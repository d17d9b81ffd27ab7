package graft.queries

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 coverage widening — the governance / layout / model-refresh
  * tier of a training-data pipeline:
  *
  *  - q73 benchmark decontamination (test-set n-gram overlap scan)
  *  - q74 SCD2 history build (change detection → validity intervals)
  *  - q75 Z-order (Morton) layout clustering + zone-map stats
  *  - q76 statistical anomaly detection over time-bucketed counts
  *  - q77 BM25 term scoring (the saturating tf ranking, log-free idf)
  *  - q78 one k-means (Lloyd) refinement step over the embedding corpus
  *
  * Cross-engine determinism follows the house rules (see
  * ExtendedOpsQueries scaladoc): integer/decimal sums where order can
  * vary, fixed-shape double trees shared with the generated oracle SQL,
  * floor-quantization where float sums would be order-sensitive.
  */
object PipelineOpsQueries extends graft.QueryFamily {

  // ---------------------------------------------------------------- q73
  /** Test-set membership: a fixed id slice stands in for the held-out
    * eval set (~4% of docs). The TRAIN side is everything else — at
    * 100 TB it is the full corpus scan and the test n-gram set is the
    * small broadcast side.
    */
  private val testModulus = 23
  /** Pairs sharing fewer distinct shingles than this are noise (stray
    * common phrases), not contamination.
    */
  private val minSharedShingles = 2
  /** The eval set is O(1) in corpus size (you decontaminate against a
    * FIXED benchmark, not 4% of all data ever collected), so the test
    * slice is capped at a fixed id horizon — same lesson as the
    * similarity probe batches (q29/q31): an uncapped slice makes pair
    * work quadratic in SF. The horizon exceeds every driver fixture's
    * max doc_id (4999 at sf0.1), so gated results are unchanged; only
    * synthetic scale-up fixtures (shifted ids) feel the cap.
    */
  private val testHorizon = 5000L
  /** Shared with CurationPipeline's decontamination stage — the ONE
    * definition of eval-set membership, horizon cap included.
    */
  private[graft] def isTestDoc(c: Column): Column =
    c % testModulus === 0 && c < testHorizon

  /** [[isTestDoc]] rendered for a DuckDB oracle (q96 reuses the same
    * eval-set membership as its DSIR target slice).
    */
  private[graft] def sqlIsTestDoc(v: String): String =
    s"($v % $testModulus = 0 AND $v < $testHorizon)"

  // ---------------------------------------------------------------- q75
  /** Bits per dimension in the Morton interleave; 6 bits cover
    * quantity's 1..50 domain and the partkey bucket 0..63.
    */
  private val mortonBits = 6
  /** Morton code: bit i of `a` lands at 2i, bit i of `b` at 2i+1 —
    * shared generator so the Spark Column and the DuckDB SQL are the
    * same arithmetic. Public: ZOrderLayoutSpec uses it as the
    * write-time clustering key to prove row-group pruning.
    */
  def mortonCode(a: Column, b: Column): Column =
    (0 until mortonBits).map { i =>
      (shiftleft(shiftright(a, i).bitwiseAND(lit(1)), 2 * i) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1)), 2 * i + 1)): Column
    }.reduce(_ + _)
  private def sqlMorton(a: String, b: String): String =
    (0 until mortonBits).map { i =>
      s"((($a >> $i) & 1) << ${2 * i}) + ((($b >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")

  // ---------------------------------------------------------------- q156
  /** Per-file bloom geometry: m bits, k=2 hashes — 2 KB/file, the
    * parquet-bloom ballpark, sized for the ~2,000 distinct keys an
    * orderkey-range file holds (fill ≈ 22%, FP ≈ 5%). LCG-drawn odd
    * multipliers, mod-P-mod-m.
    */
  private val bloomM = 16384L
  private val bloomRaw = graft.functions.TextFunctions.lcg(4, seed = 4242L)
  private val bloomA1 = bloomRaw(0) | 1L
  private val bloomB1 = bloomRaw(1)
  private val bloomA2 = bloomRaw(2) | 1L
  private val bloomB2 = bloomRaw(3)
  /** Probe keys exist at every driver SF (partkey domain starts at 1). */
  private val bloomProbeKeys: Seq[Long] = (0 until 9).map(i => 1L + 23L * i)

  // ---------------------------------------------------------------- q76
  /** 1-hour buckets: the fixture's events run ~1/minute over a month,
    * so minute buckets are all-count-1 (σ=0, nothing flaggable) —
    * hourly counts have real variance at every driver SF.
    */
  private val bucketUs = 3600000000L
  /** q76's cached bucket relation, one generation live (same pattern
    * and rationale as DedupQueries.lastSig — repeated builder calls in
    * one session must not accumulate storage-memory entries).
    */
  private val lastBuckets = new graft.util.CacheSlot
  private val sigmas = 2.0

  // ---------------------------------------------------------------- q77
  /** BM25 constants. Both engines parse the same decimal literals to
    * the same doubles; the score tree below appears in the identical
    * IEEE op order in the oracle SQL. Linear idf ((N-df+0.5)/(df+0.5))
    * instead of its log — division is correctly rounded, `ln` is not
    * guaranteed to be, and log is monotone so ranking is unchanged
    * (same rationale as q38).
    */
  private val bm25K1 = "1.2"
  private val bm25B = "0.75"
  private val bm25TopN = 3
  private val bm25DocModulus = 20

  // ---------------------------------------------------------------- q256
  /** Probe-observation slice for the PIT join: every pitProbeMod-th
    * event_id asks "what was this user's tracked attribute at my
    * timestamp?" — the training-row grain of a feature store.
    */
  private[graft] val pitProbeMod = 17

  /** The SCD2 history frame (q74's exact build) — ONE definition for
    * the q74 gate, the q256/q259 interval semantics, and
    * tools/FeaturePipeline (the persisted feature-table artifact).
    */
  private[graft] def scd2Frame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("t", "event_id")
    val changes = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts_ns div 1000").as("t"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNull ||
        col("prev_type") =!= col("event_type"))
    changes
      .withColumn("version", row_number().over(w))
      .withColumn("valid_from_us", col("t"))
      .withColumn("valid_to_us", lead(col("t"), 1).over(w))
      .withColumn("is_current", col("valid_to_us").isNull)
      .select(col("user_id"), col("version"), col("event_type"),
        col("valid_from_us"), col("valid_to_us"), col("is_current"))
      .orderBy("user_id", "version")
  }

  /** The PIT-enriched training rows (q256's exact union+window build)
    * — ONE definition for the q256 gate and tools/FeaturePipeline.
    */
  private[graft] def pitFrame(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts_ns div 1000").as("t"))
    val wch = Window.partitionBy("user_id").orderBy("t", "event_id")
    val changes = ev
      .withColumn("prev_type", lag(col("event_type"), 1).over(wch))
      .where(col("prev_type").isNull ||
        col("prev_type") =!= col("event_type"))
      .withColumn("version", row_number().over(wch))
      .select(col("user_id"), col("event_id"), col("t"),
        col("event_type").as("feat"), col("version"),
        lit(0).as("tag"))
    val probes = ev.where(col("event_id") % pitProbeMod === 0)
      .select(col("user_id"), col("event_id"), col("t"),
        lit(null).cast("string").as("feat"),
        lit(null).cast("int").as("version"), lit(1).as("tag"))
    val wpit = Window.partitionBy("user_id")
      .orderBy("t", "tag", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    changes.unionByName(probes)
      .withColumn("pit_type", last(col("feat"), ignoreNulls = true).over(wpit))
      .withColumn("pit_version",
        last(col("version"), ignoreNulls = true).over(wpit))
      .where(col("tag") === 1)
      .select(col("user_id"), col("event_id").as("probe_id"),
        col("t").as("asof_us"), col("pit_type"), col("pit_version"))
      .orderBy("user_id", "asof_us", "probe_id")
  }

  // ---------------------------------------------------------------- q83
  /** A 3-gram shingle present in at least this many distinct docs is
    * template text, not content. The corpus' max shingle df is 7-25
    * across driver SFs, so 5 yields a non-trivial template set (and
    * non-zero ratios) at every SF.
    */
  private val boilerplateDf = 5

  // ---------------------------------------------------------------- q84
  private val chunkLen = 64
  private val chunkStride = 48 // 16-token overlap between chunks
  private val chunkDocModulus = 20

  // ---------------------------------------------------------------- q87
  /** KMV sketch size for the sketch-backed profile. 64 keeps the
    * low-cardinality measures (quantity ~50, discount ~11 distinct)
    * UNDER k — their sketch is the exact distinct set — while the
    * quasi-continuous price column exercises the full-sketch
    * (k-1)·H/h_k estimator (rsd ≈ 1/√(k-1) ≈ 13%).
    */
  private val profileKmvK = 64
  /** Canonical BIGINT quantization for hashing a 2-decimal measure
    * stored as double: x*100 is the same IEEE double in both engines
    * and never lands exactly on .5, so HALF_UP round is cross-engine
    * deterministic and injective on the domain.
    */
  private def quantized(c: Column): Column =
    round(c * 100).cast("long")

  // ---------------------------------------------------------------- q78
  /** Same corpus-derived codebook as q37 — this is the step that would
    * REFRESH it. */
  private val centroidIds = Seq(1L, 3L, 8L, 21L, 55L, 144L, 233L, 377L)
  /** Component quantizer: floor(x * 1e6) on the float's exact double
    * value. Floor is exact in both engines, and the resulting BIGINT
    * micro-units sum associatively — a float/double sum would be
    * order-sensitive across partitionings (and engines).
    */
  private val quantScale = 1000000.0

  /** The q153/q288 per-(layout, file) zone-map relation: insertion
    * order (l_orderkey ranges) vs z-order (q75's Morton ranges), with
    * each file's min/max box on both scan dimensions — ONE definition
    * so the skip audit and the clustering-depth metric describe the
    * same files.
    */
  private def zonemapZones(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity").cast("long").as("qb"),
        (col("l_partkey") % 64).as("pb"))
      .withColumn("z", mortonCode(col("qb"), col("pb")).cast("long"))
    d.select(lit("insertion").as("layout"),
        expr("l_orderkey div 512").as("file_id"), col("qb"), col("pb"))
      .unionByName(d.select(lit("zorder").as("layout"),
        expr("z div 64").as("file_id"), col("qb"), col("pb")))
      .groupBy("layout", "file_id")
      .agg(count(lit(1)).as("n_rows"),
        min(col("qb")).as("min_q"), max(col("qb")).as("max_q"),
        min(col("pb")).as("min_p"), max(col("pb")).as("max_p"))
  }

  /** The zones CTE chain shared by the q153 and q288 oracles. */
  private def sqlZonesCte: String =
    s"""d AS (SELECT l_orderkey, CAST(l_quantity AS BIGINT) AS qb,
       |                  l_partkey % 64 AS pb FROM lineitem),
       |zsrc AS (SELECT 'insertion' AS layout, l_orderkey // 512 AS file_id,
       |           qb, pb FROM d
       |         UNION ALL
       |         SELECT 'zorder' AS layout,
       |           (${sqlMorton("qb", "pb")}) // 64 AS file_id, qb, pb FROM d),
       |zones AS (SELECT layout, file_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |            MIN(qb) AS min_q, MAX(qb) AS max_q,
       |            MIN(pb) AS min_p, MAX(pb) AS max_p
       |          FROM zsrc GROUP BY 1, 2)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Benchmark decontamination: which TRAIN docs share enough word
    // 3-shingles with any TEST doc to be contaminated, and by which
    // test docs. The test side's exploded n-gram set is tiny and
    // BROADCAST; the train side explodes in the scan stage and the
    // broadcast hash join discards non-colliding shingles immediately —
    // the only shuffle is the per-(train,test) pair count, whose rows
    // are ∝ actual contamination. At 100 TB this is one pass over the
    // corpus against a fixed eval set, the shape a decontamination
    // sweep must have.
    "q73_contamination" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      // ShingleHash (custom codegen Expression) computes every shingle
      // hash in ONE Java loop off the token array — the HOF
      // formulation (transform + per-shingle lambda) evaluates
      // interpreted at ~1µs/element and was 8× slower here
      def grams(d: DataFrame) =
        d.select(col("doc_id"), explode(array_distinct(
          graft.functions.ShingleHash(tokens(col("text")), 3))).as("h"))
      val train = grams(docs.where(!isTestDoc(col("doc_id"))))
      val test = grams(docs.where(isTestDoc(col("doc_id"))))
        .select(col("doc_id").as("test_doc"), col("h"))
      val pairs = train.join(broadcast(test), "h")  // hint audit: dimension-bounded (eval-horizon shingle set - the benchmark suite, not the corpus)
        .groupBy(col("doc_id").as("train_doc"), col("test_doc"))
        .agg(count(lit(1)).as("n_shared")) // shingle sets are distinct per doc
        .where(col("n_shared") >= minSharedShingles)
      pairs.groupBy("train_doc")
        .agg(count(lit(1)).as("n_test_docs"),
          sum(col("n_shared")).as("total_shared"),
          max(col("n_shared")).as("max_shared"),
          min(col("test_doc")).as("first_test_doc"))
        .orderBy("train_doc")
    }),

    // SCD2 history build: collapse each user's event stream into
    // validity intervals of the tracked attribute (event_type) —
    // change detection via lag, interval close via lead over the
    // SURVIVING change rows. Both windows share one (user) partitioning
    // and one (t, event_id) sort: a single shuffle+sort feeds the whole
    // history build at any scale. valid_to is NULL on each user's
    // current row (version numbering makes the survivor deterministic).
    "q74_scd2" -> ((s, dir) => scd2Frame(s, dir)),

    // Point-in-time (PIT) feature join — the feature-store primitive
    // (training rows must see each feature's value AS OF the
    // observation time, never a later one — the leakage rule): each
    // probe observation (user, t) picks up the q74 SCD2 attribute
    // version valid at t. Implemented WITHOUT an interval join: the
    // change rows and the probe rows union into ONE per-user window
    // ordered by (t, tag, event_id) — changes sort before probes at
    // equal t, so a probe at a change's own instant sees the new value
    // (valid_from inclusive, exactly q74's interval semantics) — and
    // a running last-non-null carries the version forward. One
    // shuffle, no pair term, no interval explode: the PIT shape that
    // survives a 100 TB event stream where a range join would
    // re-partition both sides per interval.
    "q256_pit_join" -> ((s, dir) => pitFrame(s, dir)),

    // Z-order layout clustering: the Morton interleave of two scan
    // dimensions (quantity, partkey bucket) as the SORT/LAYOUT key, and
    // the per-z-range zone map (min/max of each dimension) that makes
    // it useful — a 2-D range predicate prunes z-ranges whose boxes
    // miss it, which a single-column sort can only do for its leading
    // dimension. The z computation is a pure scan-stage expression; the
    // rollup is one small agg. At 100 TB `z` is the repartitionByRange
    // + sortWithinPartitions key at write time; this query is the
    // layout audit that proves the boxes are tight.
    "q75_zorder_layout" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .select(col("l_quantity").cast("long").as("qb"),
          (col("l_partkey") % 64).as("pb"))
        .withColumn("z", mortonCode(col("qb"), col("pb")).cast("long"))
        .select(col("qb"), col("pb"), expr("z div 64").as("z_range"))
        .groupBy("z_range")
        .agg(count(lit(1)).as("n_rows"),
          min(col("qb")).as("min_q"), max(col("qb")).as("max_q"),
          min(col("pb")).as("min_p"), max(col("pb")).as("max_p"))
        .orderBy("z_range")
    }),

    // Zone-map skip audit — the MEASURED case for q75's layout: for a
    // fixed 3×3 grid of 2-D range probes, how many files (and rows)
    // must each layout touch? Files are key-range buckets (insertion
    // order = l_orderkey ranges; z-order = q75's Morton ranges), zone
    // maps their per-file min/max boxes, and a probe touches a file
    // iff the boxes overlap — exactly the parquet row-group pruning
    // decision a 100 TB scan lives or dies by. Zone relations are
    // ∝ #files (corpus/512 — always ≪ rows), the probe grid is a
    // 9-row broadcast, and everything is integer arithmetic.
    "q153_zonemap_skip" -> ((s, dir) => {
      val zones = zonemapZones(s, dir)
      val probeRows = (for (i <- 0 until 3; j <- 0 until 3) yield
        s"(${i * 3 + j}, ${5 + 10 * i}, ${14 + 10 * i}, ${16 * j}, ${15 + 16 * j})")
        .mkString(", ")
      val probes = s.sql(
        s"SELECT pid, qlo, qhi, plo, phi FROM VALUES $probeRows AS v(pid, qlo, qhi, plo, phi)")
      val totals = zones.groupBy("layout")
        .agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("rows_total"))
      zones.join(broadcast(probes),  // hint audit: scalar (9-row probe grid)
          col("min_q") <= col("qhi") && col("max_q") >= col("qlo") &&
            col("min_p") <= col("phi") && col("max_p") >= col("plo"))
        .groupBy("layout", "pid")
        .agg(count(lit(1)).as("files_touched"),
          sum(col("n_rows")).as("rows_scanned"))
        .join(broadcast(totals), "layout")  // hint audit: dimension-bounded (per-layout totals)
        .select(col("layout"), col("pid"), col("n_files"),
          col("files_touched"), col("rows_total"), col("rows_scanned"))
        .orderBy("layout", "pid")
    }),

    // CLUSTERING DEPTH — the probe-independent layout-quality metric
    // (what a lakehouse OPTIMIZE reports): for each point of the sort
    // dimension's value domain, how many files' [min, max] ranges
    // cover it — peak and span-weighted average per layout. Computed
    // by the SWEEP-LINE device (+1 at each file's min, −1 past its
    // max, running sum over the ordered boundaries), NOT the O(F²)
    // pairwise overlap join — at 10⁶ files the sweep is a
    // boundary-sort, the pair join is 10¹² rows. The gate contrasts
    // q153's two layouts on the quantity dimension: insertion-order
    // files each span nearly the whole domain (depth ≈ n_files);
    // z-ordered files nest tightly (depth ≈ a few) — the number that
    // says "this table needs re-clustering" BEFORE any probe runs.
    "q288_clustering_depth" -> ((s, dir) => {
      val zones = zonemapZones(s, dir)
      val ev = zones.select(col("layout"), col("min_q").as("x"),
          lit(1L).as("d"))
        .unionByName(zones.select(col("layout"),
          (col("max_q") + 1).as("x"), lit(-1L).as("d")))
        .groupBy("layout", "x").agg(sum(col("d")).as("d"))
      val w = Window.partitionBy("layout").orderBy("x")
      val sw = ev
        .withColumn("depth", sum(col("d")).over(w))
        .withColumn("next_x", lead(col("x"), 1).over(w))
        .where(col("next_x").isNotNull)
      val stats = sw.groupBy("layout")
        .agg(max(col("depth")).as("peak_depth"),
          expr("sum(depth * (next_x - x)) * 1000 div sum(next_x - x)")
            .as("avg_depth_permille"))
      val tot = zones.groupBy("layout")
        .agg(count(lit(1)).as("n_files"))
      stats.join(broadcast(tot), Seq("layout"))  // hint audit: dimension-bounded (one row per layout)
        .select(col("layout"), col("n_files"), col("peak_depth"),
          col("avg_depth_permille"))
        .orderBy("layout")
    }),

    // Bloom-filter skip audit — q153's companion for POINT lookups on
    // an UNCLUSTERED high-cardinality key, where zone maps cannot
    // prune (every insertion-range file spans nearly the full partkey
    // domain): a per-file k=2/m=16384 bloom (the parquet bloom-filter
    // shape, 2 KB/file) answers "might this file contain partkey v?"
    // The audit counts, per probe key: files a zone map must touch,
    // files the bloom admits (true hits + its measured false-positive
    // overhead), and the files that truly contain the key — all from
    // one (file, bit) distinct relation bounded by files×m, with the
    // 9-key probe set broadcast. Bloom bits are the repo's
    // deterministic LCG-mod-P arithmetic, identical literals both
    // engines.
    "q156_bloom_skip" -> ((s, dir) => {
      val d = Tables(s, dir, "lineitem")
        .select(expr("l_orderkey div 512").as("file_id"),
          col("l_partkey").as("pk"))
      def h(a: Long, b: Long, v: Column) =
        pmod(pmod(lit(a) * v + lit(b), lit(graft.functions.TextFunctions.P)),
          lit(bloomM))
      val bits = d.select(col("file_id"),
          explode(array(h(bloomA1, bloomB1, col("pk")),
            h(bloomA2, bloomB2, col("pk")))).as("bit"))
        .distinct()
      val zones = d.groupBy("file_id")
        .agg(min(col("pk")).as("min_pk"), max(col("pk")).as("max_pk"))
      val probeRows = bloomProbeKeys.map { v =>
        def hh(a: Long, b: Long) = ((a * v + b) % graft.functions.TextFunctions.P) % bloomM
        s"($v, ${hh(bloomA1, bloomB1)}, ${hh(bloomA2, bloomB2)})"
      }.mkString(", ")
      val probes = s.sql(
        s"SELECT pkv, b1, b2 FROM VALUES $probeRows AS v(pkv, b1, b2)")
      val zoneTouch = zones.join(broadcast(probes),  // hint audit: scalar (9-row probe grid)
          col("min_pk") <= col("pkv") && col("max_pk") >= col("pkv"))
        .groupBy("pkv").agg(count(lit(1)).as("zone_touched"))
      val hit1 = bits.join(broadcast(probes), col("bit") === col("b1"))  // hint audit: scalar (9-row probe grid)
        .select(col("file_id"), col("pkv"))
      val hit2 = bits.join(broadcast(probes), col("bit") === col("b2"))  // hint audit: scalar (9-row probe grid)
        .select(col("file_id"), col("pkv"))
      val bloomTouch = hit1.join(hit2, Seq("file_id", "pkv"))
        .distinct()
        .groupBy("pkv").agg(count(lit(1)).as("bloom_touched"))
      val trueFiles = d.join(broadcast(probes), col("pk") === col("pkv"))  // hint audit: scalar (9-row probe grid)
        .select(col("file_id"), col("pkv")).distinct()
        .groupBy("pkv").agg(count(lit(1)).as("true_files"))
      val total = zones.agg(count(lit(1)).as("n_files"))
      zoneTouch.join(bloomTouch, "pkv").join(trueFiles, "pkv")
        .join(broadcast(total))  // hint audit: scalar (one-row total)
        .select(col("pkv"), col("n_files"), col("zone_touched"),
          col("bloom_touched"), col("true_files"))
        .orderBy("pkv")
    }),

    // Statistical anomaly detection: per-(event_type, minute) counts
    // flagged against the type's global mean + 2σ. The bucket counts
    // and their square sums are BIGINT (exact, order-independent); mean
    // and σ are closed-form doubles from those sums (same fixed tree as
    // the oracle — never the engines' streaming stddev). Two aggs: the
    // bucket count (map-side partial) and a tiny per-type stats row
    // broadcast back onto the buckets.
    "q76_anomaly_buckets" -> ((s, dir) => {
      // cached: the bucket relation (types × hours — tiny at any SF)
      // feeds BOTH the stats agg and the flag join; uncached, each
      // branch re-runs the full events scan — the dominant cost at
      // scale — twice
      val buckets = lastBuckets.swap(Tables.events(s, dir)
        .select(col("event_type"),
          expr(s"(ts_ns div 1000) div ${bucketUs}L").as("bucket"))
        .groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("cnt"))
        .cache())
      val stats = buckets.groupBy("event_type")
        .agg(count(lit(1)).as("n_buckets"),
          sum(col("cnt")).as("sx"),
          sum(col("cnt") * col("cnt")).as("sxx"))
      val nd = col("n_buckets").cast("double")
      val mean = col("sx").cast("double") / nd
      val sigma = sqrt(nd * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double")) / nd
      buckets.join(broadcast(stats), "event_type")  // hint audit: dimension-bounded (per-event-type stats)
        .withColumn("mean_cnt", mean)
        .withColumn("sigma_cnt", sigma)
        .where(col("cnt").cast("double") >
          col("mean_cnt") + lit(sigmas) * col("sigma_cnt"))
        .select(col("event_type"), (col("bucket") * bucketUs).as("bucket_us"),
          col("cnt"), col("mean_cnt"), col("sigma_cnt"))
        .orderBy("event_type", "bucket_us")
    }),

    // BM25 term scoring for a probe doc slice: saturating tf against
    // GLOBAL collection stats (df, avg doc length). The corpus-wide df
    // and avgdl aggregates broadcast onto the slice's term counts —
    // at 100 TB the collection-stats pass is the big scan and the
    // per-doc scoring joins against its (small) result, never the
    // reverse. avgdl = BIGINT token total / doc count, exact before
    // one double division.
    "q77_bm25" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      val dl = docs.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
      val df = docs.select(explode(array_distinct(col("toks"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("doc_freq"))
      val tf = docs.where(col("doc_id") % bm25DocModulus === 0)
        .select(col("doc_id"), explode(col("toks")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val k1 = lit(BigDecimal(bm25K1)).cast("double")
      val b = lit(BigDecimal(bm25B)).cast("double")
      val avgdl = col("total_dl").cast("double") / col("n_docs").cast("double")
      val tfd = col("tf").cast("double")
      val idf = (col("n_docs").cast("double") - col("doc_freq").cast("double")
        + lit(0.5)) / (col("doc_freq").cast("double") + lit(0.5))
      val score = (tfd * (k1 + lit(1.0)) /
        (tfd + k1 * (lit(1.0) - b + b * (col("dl").cast("double") / avgdl)))) * idf
      val w = Window.partitionBy("doc_id").orderBy(desc("score"), asc("term"))
      // only the PROBE SLICE's lengths join the scoring — broadcasting
      // the full per-document dl would ship one row per corpus doc;
      // `stats` above already consumed the full dl for avgdl
      val dlSlice = dl.where(col("doc_id") % bm25DocModulus === 0)
      tf.join(broadcast(df), "term")  // hint audit: dimension-bounded (slice-vocab df table)
        .join(broadcast(dlSlice), "doc_id")  // hint audit: query-bounded (doc lengths of the scored slice)
        .crossJoin(broadcast(stats))  // hint audit: scalar (one-row collection stats)
        .withColumn("score", score)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= bm25TopN)
        .select(col("doc_id"), col("term"), col("tf"), col("doc_freq"),
          col("score"), col("rn"))
        .orderBy("doc_id", "rn")
    }),

    // Boilerplate/template detection (the CCNet-style cleaning pass):
    // shingles occurring in >= boilerplateDf distinct docs are
    // "template" phrases; each doc's boilerplate ratio is the share of
    // its distinct shingles that are template. Ratios aggregate per
    // source as INTEGER sums divided once at the end — an avg() of
    // per-doc doubles would be an order-sensitive reduction. Two
    // shuffles (shingle df, source rollup); the template set is the
    // broadcast side.
    "q83_boilerplate" -> ((s, dir) => {
      // The (doc, shingle) relation feeds BOTH the template-df build
      // and the probe side, and Spark does not dedupe common subplans
      // — but deliberately NOT cached: measured at sf0.1, recomputing
      // the codegen scan→tokenize→ShingleHash pipeline twice (0.7-1.0s)
      // beats materializing the exploded relation and reading it back
      // twice (1.2-1.7s). The tradeoff flips only when the SCAN
      // dominates (slow storage); cache at the call site then.
      val shingled = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), explode(array_distinct(
          graft.functions.ShingleHash(tokens(col("text")), 3))).as("h"))
      // (doc_id, h) is already distinct (array_distinct before the
      // explode), so df = a plain count — countDistinct would add an
      // expand + extra shuffle phase for the same number
      val template = shingled.groupBy("h")
        .agg(count(lit(1)).as("df"))
        .where(col("df") >= boilerplateDf)
        .select(col("h"), lit(1).as("is_template"))
      shingled.join(broadcast(template), Seq("h"), "left")  // hint audit: dimension-bounded (df>=tau template set - boilerplate vocabulary, heavy-tail-truncated)
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("n_shingles"),
          sum(coalesce(col("is_template"), lit(0))).as("n_template"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_shingles")).as("total_shingles"),
          sum(col("n_template")).as("total_template"))
        .select(col("source"), col("n_docs"),
          (col("total_template").cast("double") /
            col("total_shingles").cast("double")).as("boilerplate_ratio"))
        .orderBy("source")
    }),

    // Fixed-width token chunking with stride (the RAG/pretraining
    // chunker): each probe-slice doc fans out into
    // floor((n_tokens-1)/stride)+1 chunks; the chunk text is hashed
    // (md5 over the space-joined tokens — identical in both engines)
    // so the gated output pins the exact chunk CONTENT, not just the
    // boundaries. Pure scan-stage fan-out, bounded by tokens/stride.
    "q84_chunking" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .where(col("doc_id") % chunkDocModulus === 0)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .where(size(col("toks")) > 0)
        .withColumn("n_toks", size(col("toks")).cast("long"))
        .withColumn("n_chunks",
          ((col("n_toks") - 1) / chunkStride).cast("long") + 1)
      docs.select(col("doc_id"), col("toks"), col("n_toks"),
          explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
        .select(col("doc_id"), col("chunk_id"), col("n_toks"),
          (col("chunk_id") * chunkStride + 1).as("start_tok"),
          slice(col("toks"), (col("chunk_id") * chunkStride + 1).cast("int"),
            lit(chunkLen)).as("ctoks"))
        .select(col("doc_id"), col("chunk_id"), col("n_toks"),
          col("start_tok"), size(col("ctoks")).as("chunk_tokens"),
          md5(concat_ws(" ", col("ctoks"))).as("chunk_hash"))
        .orderBy("doc_id", "chunk_id")
    }),

    // Column profiling (the data-quality primitive that guards every
    // 100 TB ingest): one scan computing count/nulls/distinct/min/max/
    // mean per tracked measure, emitted as one row per column. Means
    // go through DECIMAL sums; distincts are exact here — this is the
    // EXACT TWIN kept for estimator-error documentation; q87 below is
    // the sketch-backed plan you run at 100 TB.
    "q85_profile" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val metrics = Seq("l_quantity", "l_extendedprice", "l_discount")
      val aggs = metrics.flatMap { c =>
        Seq(count(col(c)).as(s"${c}_n"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
          countDistinct(col(c)).as(s"${c}_distinct"),
          min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"),
          sum(col(c).cast("decimal(18,2)")).as(s"${c}_sum"))
      }
      val wide = li.agg(aggs.head, aggs.tail: _*)
      val rows = metrics.map { c =>
        struct(lit(c).as("column"), col(s"${c}_n").as("n_rows"),
          col(s"${c}_nulls").as("n_nulls"),
          col(s"${c}_distinct").as("n_distinct"),
          col(s"${c}_min").as("min_value"), col(s"${c}_max").as("max_value"),
          (col(s"${c}_sum").cast("double") / col(s"${c}_n").cast("double"))
            .as("mean_value"))
      }
      wide.select(explode(array(rows: _*)).as("p"))
        .select(col("p.*"))
        .orderBy("column")
    }),

    // Sketch-backed column profile — q85's declared scale path made
    // real. Same one-pass profile, but the 3× COUNT(DISTINCT) (a ×4
    // Catalyst Expand over the fact table + a shuffle keyed on every
    // distinct value) is replaced by the repo's own KMV
    // TypedImperativeAggregate: O(k) state per column, map-side
    // partials, ONE ordinary aggregate over the scan — the plan that
    // survives 100 TB. Each measure is canonically quantized to BIGINT
    // (see `quantized`) and fed to the INTEGER spread hash — three
    // integer ops per value, no per-row string rendering — so the
    // sketch AND its (k-1)·H/h_k estimator are pure functions of the
    // input that the DuckDB twin reproduces bit-for-bit (the q86 gate).
    // q85 stays in the suite as the exact twin documenting estimator
    // error.
    "q87_profile_sketch" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val metrics = Seq("l_quantity", "l_extendedprice", "l_discount")
      val k = profileKmvK
      def h(c: String) = graft.functions.TextFunctions.spreadHashLong(
        quantized(col(c)))
      // TWO single-row aggregates, cross-joined: one TypedImperative
      // function in an agg takes the WHOLE aggregate off codegen
      // (ObjectHashAggregate evaluates every function interpreted), so
      // mixing the 15 cheap numeric functions with the 3 sketches made
      // all of them pay the interpreted path — measured 7× the split
      // plan at 10× data. Split, the numeric agg keeps whole-stage
      // codegen and the object agg carries only the 3 KMV updates; the
      // join of two 1-row results is free.
      val numAggs = metrics.flatMap { c =>
        Seq(count(col(c)).as(s"${c}_n"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
          min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"),
          sum(col(c).cast("decimal(18,2)")).as(s"${c}_sum"))
      }
      // hashes evaluate in a CODEGEN projection under the scan; the
      // object agg's update expressions are then bare attribute reads
      val hashed = li.select(metrics.map(c => h(c).as(s"h_$c")): _*)
      val kmvAggs = metrics.map { c =>
        graft.functions.KMinValues(col(s"h_$c"), k).as(s"${c}_sketch")
      }
      val wide = li.agg(numAggs.head, numAggs.tail: _*)
        .crossJoin(hashed.agg(kmvAggs.head, kmvAggs.tail: _*))
      def est(c: String) = when(size(col(s"${c}_sketch")) >= k,
        (lit((k - 1).toDouble) * lit(graft.functions.TextFunctions.P.toDouble)) /
          element_at(col(s"${c}_sketch"), k).cast("double"))
        .otherwise(size(col(s"${c}_sketch")).cast("double"))
      val rows = metrics.map { c =>
        struct(lit(c).as("column"), col(s"${c}_n").as("n_rows"),
          col(s"${c}_nulls").as("n_nulls"),
          est(c).as("distinct_est"),
          array_join(transform(col(s"${c}_sketch"), v => v.cast("string")), ",")
            .as("sketch_str"),
          col(s"${c}_min").as("min_value"), col(s"${c}_max").as("max_value"),
          (col(s"${c}_sum").cast("double") / col(s"${c}_n").cast("double"))
            .as("mean_value"))
      }
      wide.select(explode(array(rows: _*)).as("p"))
        .select(col("p.*"))
        .orderBy("column")
    }),

    // Incremental aggregation refresh — the materialized-view
    // maintenance primitive: a stored per-key aggregate (count +
    // DECIMAL sum over ~90% "history") absorbs a delta batch's partial
    // aggregate through one full-outer merge on the key, NEVER
    // rescanning history. Decimal partials re-associate exactly, which
    // the oracle (a flat GROUP BY over everything) proves. At 100 TB
    // this turns a daily full recompute into work ∝ the delta: two
    // small aggs + a tiny merge join.
    "q82_incremental_agg" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"),
          col("value").cast("decimal(18,2)").as("v"))
      def partial(d: DataFrame) = d.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      val stored = partial(ev.where(col("event_id") % 10 =!= 0))
        .withColumnRenamed("n", "n_old").withColumnRenamed("sv", "sv_old")
      val delta = partial(ev.where(col("event_id") % 10 === 0))
        .withColumnRenamed("n", "n_new").withColumnRenamed("sv", "sv_new")
      stored.join(delta, Seq("event_type"), "full_outer")
        .select(col("event_type"),
          (coalesce(col("n_old"), lit(0L)) + coalesce(col("n_new"), lit(0L)))
            .as("n_events"),
          (coalesce(col("sv_old"), lit(BigDecimal(0)).cast("decimal(28,2)")) +
            coalesce(col("sv_new"), lit(BigDecimal(0)).cast("decimal(28,2)")))
            .cast("double").as("sum_value"))
        .orderBy("event_type")
    }),

    // One k-means (Lloyd) refinement step over the embedding corpus:
    // assign every vector to its argmax-cosine centroid (q37's
    // shuffle-free in-projection assignment — the codebook is 8×64
    // driver-side literals), then recompute each centroid as the
    // per-(cell, dim) mean. Components are floor-quantized to BIGINT
    // micro-units BEFORE the sum so the aggregation is exact and
    // order-independent — the float sum a naive mean would use differs
    // across partitionings. One shuffle on (cell, dim); at 100 TB
    // that's 512 hot keys fed by map-side partial sums.
    "q78_kmeans_step" -> ((s, dir) => {
      val corpus = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("n2"))
      val cents: Array[(Long, Array[Float], Double)] = corpus
        .where(col("vec_id").isin(centroidIds: _*))
        .orderBy("vec_id")
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
      val best = bestCell(col("embedding"), col("n2"),
        cents.toSeq.map { case (id, ce, n2) => (id, ce.map(_.toDouble), n2) })
      corpus.select((-best.getField("nid")).as("cell"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("cell"), col("dim"),
          floor(col("x").cast("double") * quantScale).cast("long").as("q"))
        .groupBy("cell", "dim")
        .agg(count(lit(1)).as("n_members"), sum(col("q")).as("sq"))
        .select(col("cell"), col("dim"), col("n_members"),
          (col("sq").cast("double") / col("n_members").cast("double"))
            .as("centroid_micro"))
        .orderBy("cell", "dim")
    }),

    // SPLIT-LEAKAGE screen — the check q57's hash split needs before
    // anyone trusts a held-out number: a content-hash split guarantees
    // no EXACT duplicate crosses splits, but near-duplicates (shared
    // shingles) still leak val/test content into train. Per 3-gram
    // shingle, presence flags per split fold in ONE shingle-keyed agg
    // (q73's ShingleHash scan, split label attached scan-stage), then
    // a single global rollup reports cross-split overlap counts and
    // the headline number: the permille of distinct test shingles
    // already present in train. At 100 TB the only real shuffle is
    // the shingle-keyed agg — the same key q73/q98 already spread.
    "q211_split_leakage" -> ((s, dir) => {
      val flags = Tables(s, dir, "documents")
        .select(splitOf(col("text")).as("split"),
          explode(array_distinct(
            graft.functions.ShingleHash(tokens(col("text")), 3))).as("h"))
        .groupBy("h")
        .agg(max(when(col("split") === "train", 1L).otherwise(0L)).as("in_train"),
          max(when(col("split") === "val", 1L).otherwise(0L)).as("in_val"),
          max(when(col("split") === "test", 1L).otherwise(0L)).as("in_test"))
      flags.agg(
          count(lit(1)).as("n_shingles"),
          sum(col("in_train")).as("n_train"),
          sum(col("in_val")).as("n_val"),
          sum(col("in_test")).as("n_test"),
          sum(col("in_train") * col("in_val")).as("shared_train_val"),
          sum(col("in_train") * col("in_test")).as("shared_train_test"),
          sum(col("in_val") * col("in_test")).as("shared_val_test"),
          sum(col("in_train") * col("in_val") * col("in_test"))
            .as("shared_all"))
        .withColumn("test_leak_permille",
          expr("CASE WHEN n_test > 0 THEN shared_train_test * 1000 div n_test " +
            "ELSE 0 END"))
    }),

    // SPLIT-BALANCE audit — the stratification check beside q211's
    // leakage screen: a content-hash split should deliver each split
    // the same source mix as the corpus; a split whose mix drifted
    // signals a pathological hash interaction (or an upstream sort
    // leaking into assignment). Per split: Gini–Simpson diversity of
    // the source distribution (1000 − Σ share²/1000, exact integer
    // permille — no log, so no cross-engine float risk) and the max
    // absolute per-source share drift vs the corpus mix. All aggs
    // fold into (split × source) rows — bounded at any corpus size.
    "q212_split_balance" -> ((s, dir) => {
      val perCell = Tables(s, dir, "documents")
        .select(splitOf(col("text")).as("split"), col("source"))
        .groupBy("split", "source")
        .agg(count(lit(1)).as("c"))
      // bounded relation from here down: |splits| × |sources| rows
      val bySplit = Window.partitionBy("split")
      val bySource = Window.partitionBy("source")
      val all = Window.partitionBy()
      perCell
        .withColumn("split_n", sum(col("c")).over(bySplit))
        .withColumn("src_n", sum(col("c")).over(bySource))
        .withColumn("total_n", sum(col("c")).over(all))
        .withColumn("share_pm", expr("c * 1000 div split_n"))
        .withColumn("corpus_pm", expr("src_n * 1000 div total_n"))
        .groupBy("split")
        .agg(max(col("split_n")).as("n_docs"),
          count(lit(1)).as("n_sources"),
          sum(col("share_pm") * col("share_pm")).as("ss"),
          max(abs(col("share_pm") - col("corpus_pm"))).as("max_drift_pm"))
        .withColumn("simpson_permille", expr("1000 - ss div 1000"))
        .drop("ss")
        .orderBy("split")
    }))

  /** q57's content-hash split assignment (same constants) — ONE
    * definition for the q211 leakage screen and the q212 balance
    * audit, mirroring q57's inline construction.
    */
  private def splitOf(text: Column): Column = {
    val bucket = pmod(polyHash(text), lit(100))
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
  }
  private def sqlSplitOf(text: String): String =
    s"CASE WHEN ${sqlPolyHash(text)} % 100 < 80 THEN 'train' " +
      s"WHEN ${sqlPolyHash(text)} % 100 < 90 THEN 'val' ELSE 'test' END"

  def oracle: Map[String, String] = Map(
    "q211_split_leakage" ->
      s"""WITH g AS (SELECT ${sqlSplitOf("text")} AS split,
         |    unnest(${sqlShingleHashes("text")}) AS h
         |  FROM documents),
         |f AS (SELECT h,
         |    MAX(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_train,
         |    MAX(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS in_val,
         |    MAX(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS in_test
         |  FROM g GROUP BY h)
         |SELECT COUNT(*) AS n_shingles,
         |  CAST(SUM(in_train) AS BIGINT) AS n_train,
         |  CAST(SUM(in_val) AS BIGINT) AS n_val,
         |  CAST(SUM(in_test) AS BIGINT) AS n_test,
         |  CAST(SUM(in_train * in_val) AS BIGINT) AS shared_train_val,
         |  CAST(SUM(in_train * in_test) AS BIGINT) AS shared_train_test,
         |  CAST(SUM(in_val * in_test) AS BIGINT) AS shared_val_test,
         |  CAST(SUM(in_train * in_val * in_test) AS BIGINT) AS shared_all,
         |  CASE WHEN SUM(in_test) > 0
         |    THEN CAST(SUM(in_train * in_test) AS BIGINT) * 1000
         |      // CAST(SUM(in_test) AS BIGINT)
         |    ELSE 0 END AS test_leak_permille
         |FROM f""".stripMargin,
    "q212_split_balance" ->
      s"""WITH pc AS (SELECT ${sqlSplitOf("text")} AS split, source,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM documents GROUP BY 1, 2),
         |e AS (SELECT *,
         |    CAST(SUM(c) OVER (PARTITION BY split) AS BIGINT) AS split_n,
         |    CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS src_n,
         |    CAST(SUM(c) OVER () AS BIGINT) AS total_n
         |  FROM pc),
         |s AS (SELECT split, split_n, c * 1000 // split_n AS share_pm,
         |    src_n * 1000 // total_n AS corpus_pm FROM e)
         |SELECT split, MAX(split_n) AS n_docs,
         |  COUNT(*) AS n_sources,
         |  1000 - CAST(SUM(share_pm * share_pm) AS BIGINT) // 1000
         |    AS simpson_permille,
         |  MAX(abs(share_pm - corpus_pm)) AS max_drift_pm
         |FROM s GROUP BY split ORDER BY split""".stripMargin,
    "q73_contamination" ->
      s"""WITH tr AS (SELECT doc_id, unnest(${sqlShingleHashes("text")}) AS h
         |           FROM documents
         |           WHERE NOT (doc_id % $testModulus = 0 AND doc_id < $testHorizon)),
         |te AS (SELECT doc_id AS test_doc, unnest(${sqlShingleHashes("text")}) AS h
         |       FROM documents
         |       WHERE doc_id % $testModulus = 0 AND doc_id < $testHorizon),
         |pairs AS (
         |  SELECT tr.doc_id AS train_doc, te.test_doc, COUNT(*) AS n_shared
         |  FROM tr JOIN te USING (h)
         |  GROUP BY tr.doc_id, te.test_doc
         |  HAVING COUNT(*) >= $minSharedShingles)
         |SELECT train_doc, COUNT(*) AS n_test_docs,
         |  CAST(SUM(n_shared) AS BIGINT) AS total_shared, MAX(n_shared) AS max_shared,
         |  MIN(test_doc) AS first_test_doc
         |FROM pairs GROUP BY train_doc ORDER BY train_doc""".stripMargin,
    "q74_scd2" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS t,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS prev_type
        |  FROM events),
        |changes AS (
        |  SELECT * FROM ev
        |  WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id,
        |  CAST(ROW_NUMBER() OVER w AS INTEGER) AS version,
        |  event_type, t AS valid_from_us,
        |  lead(t) OVER w AS valid_to_us,
        |  lead(t) OVER w IS NULL AS is_current
        |FROM changes
        |WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
        |ORDER BY user_id, version""".stripMargin,
    "q256_pit_join" ->
      s"""WITH ev AS (
         |  SELECT user_id, event_id, event_type, epoch_us(ts) AS t,
         |    lag(event_type) OVER (PARTITION BY user_id
         |      ORDER BY epoch_us(ts), event_id) AS prev_type
         |  FROM events),
         |ch AS (
         |  SELECT user_id, event_id, t, event_type AS feat,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id
         |      ORDER BY t, event_id) AS INTEGER) AS version, 0 AS tag
         |  FROM ev WHERE prev_type IS NULL OR prev_type <> event_type),
         |pr AS (
         |  SELECT user_id, event_id, t, CAST(NULL AS VARCHAR) AS feat,
         |    CAST(NULL AS INTEGER) AS version, 1 AS tag
         |  FROM ev WHERE event_id % $pitProbeMod = 0),
         |u AS (SELECT * FROM ch UNION ALL SELECT * FROM pr)
         |SELECT user_id, event_id AS probe_id, t AS asof_us,
         |  pit_type, pit_version
         |FROM (
         |  SELECT *,
         |    last_value(feat IGNORE NULLS) OVER w2 AS pit_type,
         |    last_value(version IGNORE NULLS) OVER w2 AS pit_version
         |  FROM u WINDOW w2 AS (PARTITION BY user_id
         |    ORDER BY t, tag, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |WHERE tag = 1 ORDER BY user_id, asof_us, probe_id""".stripMargin,
    "q75_zorder_layout" ->
      s"""WITH d AS (SELECT CAST(l_quantity AS BIGINT) AS qb,
         |                  l_partkey % 64 AS pb FROM lineitem)
         |SELECT (${sqlMorton("qb", "pb")}) // 64 AS z_range,
         |  COUNT(*) AS n_rows,
         |  MIN(qb) AS min_q, MAX(qb) AS max_q,
         |  MIN(pb) AS min_p, MAX(pb) AS max_p
         |FROM d GROUP BY z_range ORDER BY z_range""".stripMargin,
    "q153_zonemap_skip" ->
      s"""WITH $sqlZonesCte,
         |probes AS (SELECT i * 3 + j AS pid, 5 + 10 * i AS qlo,
         |             14 + 10 * i AS qhi, 16 * j AS plo, 15 + 16 * j AS phi
         |           FROM range(0, 3) a(i), range(0, 3) b(j)),
         |tot AS (SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_files,
         |          CAST(SUM(n_rows) AS BIGINT) AS rows_total
         |        FROM zones GROUP BY 1)
         |SELECT zones.layout AS layout, CAST(pid AS INT) AS pid, n_files,
         |  CAST(COUNT(*) AS BIGINT) AS files_touched,
         |  rows_total, CAST(SUM(n_rows) AS BIGINT) AS rows_scanned
         |FROM zones JOIN probes
         |  ON min_q <= qhi AND max_q >= qlo AND min_p <= phi AND max_p >= plo
         |JOIN tot ON tot.layout = zones.layout
         |GROUP BY zones.layout, pid, n_files, rows_total
         |ORDER BY zones.layout, pid""".stripMargin,
    // the sweep-line depth over the shared zones relation: +1 at each
    // file's min_q, −1 past its max_q, running sum per layout
    "q288_clustering_depth" ->
      s"""WITH $sqlZonesCte,
         |ev AS (SELECT layout, x, SUM(d) AS d FROM (
         |    SELECT layout, min_q AS x, 1 AS d FROM zones
         |    UNION ALL
         |    SELECT layout, max_q + 1 AS x, -1 AS d FROM zones)
         |  GROUP BY 1, 2),
         |sw AS (SELECT layout, x,
         |    SUM(d) OVER (PARTITION BY layout ORDER BY x
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS depth,
         |    LEAD(x) OVER (PARTITION BY layout ORDER BY x) AS next_x
         |  FROM ev),
         |st AS (SELECT layout, CAST(MAX(depth) AS BIGINT) AS peak_depth,
         |    CAST(SUM(depth * (next_x - x)) * 1000 // SUM(next_x - x)
         |      AS BIGINT) AS avg_depth_permille
         |  FROM sw WHERE next_x IS NOT NULL GROUP BY 1),
         |tot AS (SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_files
         |        FROM zones GROUP BY 1)
         |SELECT st.layout AS layout, n_files, peak_depth, avg_depth_permille
         |FROM st JOIN tot ON tot.layout = st.layout
         |ORDER BY layout""".stripMargin,
    "q156_bloom_skip" -> {
      val p = graft.functions.TextFunctions.P
      val probeRows = bloomProbeKeys.map { v =>
        def hh(a: Long, b: Long) = ((a * v + b) % p) % bloomM
        s"($v, ${hh(bloomA1, bloomB1)}, ${hh(bloomA2, bloomB2)})"
      }.mkString(", ")
      s"""WITH d AS (SELECT l_orderkey // 512 AS file_id, l_partkey AS pk
         |           FROM lineitem),
         |bits AS (SELECT DISTINCT file_id, bit FROM (
         |    SELECT file_id, (($bloomA1 * pk + $bloomB1) % $p) % $bloomM AS bit
         |    FROM d
         |    UNION ALL
         |    SELECT file_id, (($bloomA2 * pk + $bloomB2) % $p) % $bloomM AS bit
         |    FROM d)),
         |zones AS (SELECT file_id, MIN(pk) AS min_pk, MAX(pk) AS max_pk
         |          FROM d GROUP BY 1),
         |probes AS (SELECT * FROM (VALUES $probeRows) AS v(pkv, b1, b2)),
         |zt AS (SELECT pkv, CAST(COUNT(*) AS BIGINT) AS zone_touched
         |       FROM zones JOIN probes ON min_pk <= pkv AND max_pk >= pkv
         |       GROUP BY 1),
         |h1 AS (SELECT DISTINCT file_id, pkv FROM bits JOIN probes ON bit = b1),
         |h2 AS (SELECT DISTINCT file_id, pkv FROM bits JOIN probes ON bit = b2),
         |bt AS (SELECT pkv, CAST(COUNT(*) AS BIGINT) AS bloom_touched
         |       FROM h1 JOIN h2 USING (file_id, pkv) GROUP BY 1),
         |tf AS (SELECT pkv, CAST(COUNT(DISTINCT file_id) AS BIGINT) AS true_files
         |       FROM d JOIN probes ON pk = pkv GROUP BY 1),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_files FROM zones)
         |SELECT pkv, n_files, zone_touched, bloom_touched, true_files
         |FROM zt JOIN bt USING (pkv) JOIN tf USING (pkv), tot
         |ORDER BY pkv""".stripMargin
    },
    "q76_anomaly_buckets" ->
      s"""WITH b AS (
         |  SELECT event_type, epoch_us(ts) // $bucketUs AS bucket,
         |    COUNT(*) AS cnt
         |  FROM events GROUP BY event_type, bucket),
         |st AS (
         |  SELECT event_type, COUNT(*) AS n_buckets,
         |    CAST(SUM(cnt) AS BIGINT) AS sx,
         |    CAST(SUM(cnt * cnt) AS BIGINT) AS sxx
         |  FROM b GROUP BY event_type)
         |SELECT event_type, bucket * $bucketUs AS bucket_us, cnt,
         |  mean_cnt, sigma_cnt
         |FROM (
         |  SELECT b.event_type, b.bucket, b.cnt,
         |    CAST(sx AS DOUBLE) / CAST(n_buckets AS DOUBLE) AS mean_cnt,
         |    sqrt(CAST(n_buckets AS DOUBLE) * CAST(sxx AS DOUBLE)
         |       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |      / CAST(n_buckets AS DOUBLE) AS sigma_cnt
         |  FROM b JOIN st USING (event_type))
         |WHERE CAST(cnt AS DOUBLE) > mean_cnt + $sigmas * sigma_cnt
         |ORDER BY event_type, bucket_us""".stripMargin,
    "q77_bm25" ->
      s"""WITH docs AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
         |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM docs),
         |st AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_dl
         |       FROM dl),
         |df AS (SELECT term, COUNT(*) AS doc_freq FROM
         |         (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM docs)
         |       GROUP BY term),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM
         |         (SELECT doc_id, unnest(toks) AS term FROM docs
         |          WHERE doc_id % $bm25DocModulus = 0)
         |       GROUP BY doc_id, term),
         |scored AS (
         |  SELECT tf.doc_id, tf.term, tf.tf, df.doc_freq,
         |    (CAST(tf.tf AS DOUBLE) * ($bm25K1 + 1.0) /
         |      (CAST(tf.tf AS DOUBLE) + $bm25K1 * (1.0 - $bm25B + $bm25B *
         |        (CAST(dl.dl AS DOUBLE) /
         |         (CAST(st.total_dl AS DOUBLE) / CAST(st.n_docs AS DOUBLE))))))
         |    * ((CAST(st.n_docs AS DOUBLE) - CAST(df.doc_freq AS DOUBLE) + 0.5)
         |       / (CAST(df.doc_freq AS DOUBLE) + 0.5)) AS score
         |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), st)
         |SELECT doc_id, term, tf, doc_freq, score, rn FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, term) AS INTEGER) AS rn
         |  FROM scored)
         |WHERE rn <= $bm25TopN ORDER BY doc_id, rn""".stripMargin,
    "q82_incremental_agg" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q83_boilerplate" ->
      s"""WITH sh AS (SELECT doc_id, source,
         |              unnest(${sqlShingleHashes("text")}) AS h
         |            FROM documents),
         |tmpl AS (SELECT h FROM (
         |  SELECT h, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY h)
         |  WHERE df >= $boilerplateDf),
         |per AS (
         |  SELECT doc_id, source, COUNT(*) AS n_shingles,
         |    CAST(SUM(CASE WHEN h IN (SELECT h FROM tmpl) THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_template
         |  FROM sh GROUP BY doc_id, source)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(n_template) AS DOUBLE) / CAST(SUM(n_shingles) AS DOUBLE)
         |    AS boilerplate_ratio
         |FROM per GROUP BY source ORDER BY source""".stripMargin,
    "q84_chunking" ->
      s"""WITH docs AS (
         |  SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents
         |  WHERE doc_id % $chunkDocModulus = 0),
         |d2 AS (
         |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_toks,
         |    (CAST(len(toks) AS BIGINT) - 1) // $chunkStride + 1 AS n_chunks
         |  FROM docs WHERE len(toks) > 0),
         |ch AS (
         |  SELECT doc_id, n_toks, toks,
         |    unnest(range(0, n_chunks)) AS chunk_id
         |  FROM d2)
         |SELECT doc_id, chunk_id, n_toks,
         |  chunk_id * $chunkStride + 1 AS start_tok,
         |  CAST(len(ctoks) AS INTEGER) AS chunk_tokens,
         |  md5(array_to_string(ctoks, ' ')) AS chunk_hash
         |FROM (SELECT *, toks[CAST(chunk_id * $chunkStride + 1 AS INT):
         |        CAST(chunk_id * $chunkStride + $chunkLen AS INT)] AS ctoks
         |      FROM ch)
         |ORDER BY doc_id, chunk_id""".stripMargin,
    "q85_profile" -> {
      val metrics = Seq("l_quantity", "l_extendedprice", "l_discount")
      val wideAggs = metrics.map { c =>
        s"""COUNT($c) AS ${c}_n,
           |    CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |      AS ${c}_nulls,
           |    COUNT(DISTINCT $c) AS ${c}_distinct,
           |    MIN($c) AS ${c}_min, MAX($c) AS ${c}_max,
           |    SUM(CAST($c AS DECIMAL(18,2))) AS ${c}_sum""".stripMargin
      }.mkString(",\n    ")
      val arms = metrics.map { c =>
        s"""SELECT '$c' AS "column", ${c}_n AS n_rows, ${c}_nulls AS n_nulls,
           |  ${c}_distinct AS n_distinct, ${c}_min AS min_value,
           |  ${c}_max AS max_value,
           |  CAST(${c}_sum AS DOUBLE) / CAST(${c}_n AS DOUBLE) AS mean_value
           |FROM w""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH w AS (SELECT\n    $wideAggs\n  FROM lineitem)
         |$arms
         |ORDER BY "column"""".stripMargin
    },
    "q87_profile_sketch" -> {
      val metrics = Seq("l_quantity", "l_extendedprice", "l_discount")
      val k = profileKmvK
      // list_distinct also drops NULLs, matching the sketch's null skip
      def h(c: String) = graft.functions.TextFunctions.sqlSpreadHashLong(
        s"CAST(ROUND($c * 100) AS BIGINT)")
      val hsel = metrics.map(c => s"${h(c)} AS h_$c").mkString(",\n    ")
      val wideAggs = metrics.map { c =>
        s"""COUNT($c) AS ${c}_n,
           |    CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |      AS ${c}_nulls,
           |    list_sort(list_distinct(list(h_$c)))[:$k] AS ${c}_sketch,
           |    MIN($c) AS ${c}_min, MAX($c) AS ${c}_max,
           |    SUM(CAST($c AS DECIMAL(18,2))) AS ${c}_sum""".stripMargin
      }.mkString(",\n    ")
      val arms = metrics.map { c =>
        s"""SELECT '$c' AS "column", ${c}_n AS n_rows, ${c}_nulls AS n_nulls,
           |  CASE WHEN len(${c}_sketch) >= $k
           |    THEN (${(k - 1).toDouble} * ${graft.functions.TextFunctions.P.toDouble})
           |         / CAST(${c}_sketch[$k] AS DOUBLE)
           |    ELSE CAST(len(${c}_sketch) AS DOUBLE) END AS distinct_est,
           |  array_to_string(${c}_sketch, ',') AS sketch_str,
           |  ${c}_min AS min_value, ${c}_max AS max_value,
           |  CAST(${c}_sum AS DOUBLE) / CAST(${c}_n AS DOUBLE) AS mean_value
           |FROM w""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH hs AS (SELECT *,\n    $hsel\n  FROM lineitem),
         |w AS (SELECT\n    $wideAggs\n  FROM hs)
         |$arms
         |ORDER BY "column"""".stripMargin
    },
    "q78_kmeans_step" -> {
      val cCos = sqlCosineFrom(sqlDot("e.embedding", "c.ce"), "e.n2", "c.cn2")
      s"""WITH e AS (SELECT vec_id, embedding,
         |             ${sqlNorm2("embedding")} AS n2 FROM embeddings),
         |c AS (SELECT vec_id AS c_id, embedding AS ce, n2 AS cn2
         |      FROM e WHERE vec_id IN (${centroidIds.mkString(",")})),
         |cells AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, c.c_id AS cell,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY $cCos DESC, c.c_id) AS rn
         |    FROM e, c) WHERE rn = 1),
         |comp AS (
         |  SELECT cell,
         |    CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
         |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * ${quantScale.toLong}.0)
         |      AS BIGINT) AS q
         |  FROM cells)
         |SELECT cell, dim, COUNT(*) AS n_members,
         |  CAST(SUM(q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS centroid_micro
         |FROM comp GROUP BY cell, dim ORDER BY cell, dim""".stripMargin
    })
}
