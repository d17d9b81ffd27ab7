package graft.queries

import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-7 quality/serving-ops tier: rule-based data validation
  * (Deequ-style), time-series downsampling, an n-gram coherence score,
  * and sorted-neighborhood candidate generation (the classic entity-
  * resolution blocking technique). Every query is oracle-gated; all
  * cross-engine arithmetic is integer or fixed-tree/positional double
  * (no order-sensitive float reductions).
  */
object QualityOpsQueries extends graft.QueryFamily {

  private val dec2 = DecimalType(18, 2)

  /** q112 validation policy: allowed language set, length band, and the
    * "clean corpus carries no URLs" rule.
    */
  private val allowedLangs = Seq("en", "es", "fr", "de")
  private val lenLo = 20L
  private val lenHi = 400L

  /** q114: fixed-point scale of the bigram conditional probability. */
  private val cohScale = 1000000L

  /** q115: sorted-neighborhood window width (pairs within w positions
    * of the blocking-key order are candidates).
    */
  private val snWindow = 3

  /** q268: the edit-distance verify runs on a fixed-length canonical
    * prefix (cost per pair capped at prefixLen² character ops) and
    * keeps pairs within tau edits.
    */
  private val editPrefixLen = 48
  private val editTau = 8

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** q253 privacy thresholds: every quasi-identifier equivalence class
    * must hold >= anonK rows (k-anonymity — Sweeney, IJUFKS 2002) and
    * >= diversityL distinct sensitive values (l-diversity —
    * Machanavajjhala et al., ICDE 2006). Both public.
    */
  private val anonK = 10L
  private val diversityL = 3L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // k-anonymity / l-diversity release audit — the privacy gate a
    // governance review runs before publishing a table keyed by
    // quasi-identifiers. QI = (nation, market segment); sensitive
    // attribute = the account-balance band (floor(bal/2000): double
    // division + floor, IEEE-identical in both engines and safe on
    // negative balances — an integer `div` would truncate toward zero
    // in Spark but floor in DuckDB). Per equivalence class: size,
    // distinct sensitive values, both pass flags; the audit-wide
    // suppression cost (rows lost if k-violating classes are dropped)
    // rides a window over the CLASS relation. One corpus-scale op —
    // a map-side-combining groupBy on the QI keys; everything after
    // is ∝ distinct QI combinations, never the table.
    "q253_k_anonymity" -> ((s, dir) => {
      val band = floor(col("c_acctbal") / lit(2000.0)).cast("long")
      val classes = Tables(s, dir, "customer")
        .select(col("c_nationkey").cast("long").as("nation"),
          col("c_mktsegment").as("segment"), band.as("band"))
        .groupBy("nation", "segment")
        .agg(count(lit(1)).as("class_n"),
          countDistinct(col("band")).as("l_distinct"))
      val all = Window.partitionBy()
      classes
        .withColumn("meets_k", (col("class_n") >= anonK).cast("int"))
        .withColumn("meets_l", (col("l_distinct") >= diversityL).cast("int"))
        .withColumn("suppressed_rows",
          sum(when(col("class_n") < anonK, col("class_n")).otherwise(lit(0L)))
            .over(all))
        .orderBy("nation", "segment")
    }),

    // Rule-based validation report (the Deequ-style ingest gate —
    // Schelter et al., VLDB 2018, public): completeness, consistency,
    // domain, uniqueness, duplication, content-policy and range rules,
    // ALL evaluated in one conditional-aggregate corpus scan plus one
    // key-uniqueness aggregate — never a pass per rule. Violation
    // counts vary with the data (zh docs, URL-bearing docs, the planted
    // duplicate texts), so the gate is non-trivial.
    "q112_validation_rules" -> ((s, dir) => {
      val urlHits = size(regexp_extract_all(TextAnalysisQueries.urlText,
        lit(TextAnalysisQueries.urlRe), lit(0))) > 0
      val base = docs(s, dir).agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("text").isNull || length(col("text")) === 0, 1L)
          .otherwise(0L)).as("null_or_empty_text"),
        sum(when(col("n_chars") =!= length(col("text")), 1L).otherwise(0L))
          .as("n_chars_mismatch"),
        sum(when(!col("lang").isin(allowedLangs: _*), 1L).otherwise(0L))
          .as("lang_violations"),
        sum(when(urlHits, 1L).otherwise(0L)).as("url_violations"),
        sum(when(col("n_chars") < lenLo || col("n_chars") > lenHi, 1L)
          .otherwise(0L)).as("len_violations"))
      val dupIds = docs(s, dir).groupBy("doc_id")
        .agg(count(lit(1)).as("c"))
        .agg(sum(when(col("c") > 1, col("c"))).as("x"))
        .select(coalesce(col("x"), lit(0L)).as("dup_id_rows"))
      val dupText = docs(s, dir)
        .select(canonicalKey(col("text")).as("ck"))
        .groupBy("ck").agg(count(lit(1)).as("c"))
        .agg(sum(when(col("c") > 1, col("c") - 1)).as("x"))
        .select(coalesce(col("x"), lit(0L)).as("dup_text_rows"))
      base.join(broadcast(dupIds)).join(broadcast(dupText))  // hint audit: scalar x2 (one-row dup totals)
    }),

    // OHLC-style metric downsampling: per (event_type, hour) the
    // first/last (by event time, unique per type in this stream) and
    // min/max/sum/count of `value` — the rollup a metrics store runs
    // before long-term retention. first/last ride min_by/max_by
    // (ordered-statistic aggregates with map-side partials: each
    // partition keeps ONE candidate, no sort, no window); the sum is
    // DECIMAL for order-independent exactness.
    "q113_downsample" -> ((s, dir) => {
      val hour = expr("ts_ns div 3600000000000")
      Tables.events(s, dir)
        .groupBy(col("event_type"), hour.as("hour"))
        .agg(count(lit(1)).as("n"),
          min_by(col("value"), col("ts_ns")).as("first_value"),
          max_by(col("value"), col("ts_ns")).as("last_value"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"),
          sum(col("value").cast(dec2)).cast("double").as("sum_value"))
        .orderBy("event_type", "hour")
    }),

    // Bigram coherence score — the LM-free fluency proxy: how probable
    // is each doc's word sequence under the corpus's own bigram
    // statistics? Per-bigram score = add-one-free conditional count
    // ratio in fixed-point, summed per doc (integer — a log-prob sum
    // would be order-sensitive float). The bigram count is a map-side-
    // combined aggregate rejoined on bg with NO strategy hint. Why not
    // the two prior shapes: a broadcast(biCounts) materializes a
    // corpus-scaled relation (distinct bigrams are not meaningfully
    // bounded — billions at 100 TB) on the driver; a
    // `count(*) over (partition by bg)` window buffers each bg group
    // WHOLE per task, so a Zipf-hot bigram ("of the" — billions of
    // occurrence rows) becomes one spill-heavy straggler. The
    // aggregate+equi-join pays the same one bg-keyed shuffle but (a)
    // partial aggregation collapses the hot key to one row per map
    // task before it travels, and (b) the join streams duplicate probe
    // keys instead of buffering them (AQE skew-split applies at
    // runtime). Strategy is stats-chosen per regime — broadcast while
    // biCounts estimates small, shuffle equi-join past the threshold
    // (PlanShapeSpec pins both regimes). The unigram table IS
    // vocab-bounded and keeps its deliberate broadcast hint.
    "q114_bigram_coherence" -> ((s, dir) => {
      val toked = docs(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      val bi = toked.select(col("doc_id"),
        explode(wordShinglesFromTokens(col("toks"), 2)).as("bg"))
        .select(col("doc_id"), col("bg"),
          substring_index(col("bg"), " ", 1).as("w1"))
      val uniCounts = toked
        .select(explode(col("toks")).as("w1"))
        .groupBy("w1").agg(count(lit(1)).as("c_w1"))
      val biCounts = bi.groupBy("bg").agg(count(lit(1)).as("c_bg"))
      bi.join(biCounts, "bg")
        .join(broadcast(uniCounts), "w1")  // hint audit: dimension-bounded (unigram vocab counts)
        .select(col("doc_id"),
          expr(s"(c_bg * $cohScale) div c_w1").as("sc"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum(col("sc")).as("sum_sc"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("sum_sc div n_bigrams").as("mean_coherence_micro"))
        .orderBy("doc_id")
    }),

    // Sorted-neighborhood candidate generation (Hernández & Stolfo
    // 1995, the ER blocking classic): order the corpus by a blocking
    // key (the canonical token-set form — exact/near rewrites collide
    // or land adjacent), number it with the two-phase GlobalIndex, and
    // emit each pair within w positions plus the exact-match verdict.
    // Pair fan-out is exactly w per doc — O(n·w), never O(n²); the
    // positional equi-join is the designed co-partitioned merge (both
    // sides are the corpus: this is the one tier where a broadcast is
    // wrong by construction).
    "q115_sorted_neighborhood" -> ((s, dir) => {
      val keyed = docs(s, dir)
        .select(col("doc_id"), canonicalKey(col("text")).as("ck"))
      val idx = graft.ext.GlobalIndex.withGlobalIndex(keyed,
        Seq(col("ck").asc, col("doc_id").asc), 32, "idx")
      val probes = idx.select(col("doc_id").as("doc_a"), col("ck").as("ck_a"),
          explode(sequence(lit(1), lit(snWindow))).as("off"),
          col("idx"))
        .select(col("doc_a"), col("ck_a"), (col("idx") + col("off")).as("nidx"))
      probes.join(idx.select(col("doc_id").as("doc_b"), col("ck").as("ck_b"),
          col("idx").as("nidx")), "nidx")
        .select(col("doc_a"), col("doc_b"),
          (col("ck_a") === col("ck_b")).as("exact_dup"))
        .orderBy("doc_a", "doc_b")
    }),

    // Edit-distance verify join — entity resolution's DISTANCE face
    // (q115 generates blocked candidates, q139 scores field
    // agreement; this measures actual character edits): q115's exact
    // sorted-neighborhood blocking, then Levenshtein on a fixed
    // 48-char canonical prefix (codegen built-in in Spark, the same
    // standard distance in DuckDB — exact integers both engines),
    // keeping pairs within tau edits. Candidates O(n·w) from the
    // blocking; verify cost capped at prefixLen² per pair — never an
    // all-pairs edit-distance matrix.
    "q268_edit_distance_join" -> ((s, dir) => {
      val keyed = docs(s, dir)
        .select(col("doc_id"), canonicalKey(col("text")).as("ck"))
        .withColumn("pfx", substring(col("ck"), 1, editPrefixLen))
      val idx = graft.ext.GlobalIndex.withGlobalIndex(keyed,
        Seq(col("ck").asc, col("doc_id").asc), 32, "idx")
      val probes = idx.select(col("doc_id").as("doc_a"),
          col("pfx").as("pfx_a"),
          explode(sequence(lit(1), lit(snWindow))).as("off"), col("idx"))
        .select(col("doc_a"), col("pfx_a"),
          (col("idx") + col("off")).as("nidx"))
      probes.join(idx.select(col("doc_id").as("doc_b"),
          col("pfx").as("pfx_b"), col("idx").as("nidx")), "nidx")
        .withColumn("edit_dist",
          levenshtein(col("pfx_a"), col("pfx_b")).cast("long"))
        .where(col("edit_dist") <= editTau)
        .select("doc_a", "doc_b", "edit_dist")
        .orderBy("doc_a", "doc_b")
    }),

    // Quality-filter threshold calibration: the full precision/recall/F1
    // sweep of the q22 quality score as a classifier for English text
    // (the score's stopword component IS an English signal — this
    // measures how much). One corpus scan buckets docs into permille
    // score bins with per-bin positive counts (≤ 1001 bins — a bounded
    // value-domain histogram, the q121 device); the sweep itself is a
    // cumulative window DESCENDING over that bounded relation, never
    // the corpus: predict-positive-at-threshold-t counts are suffix
    // sums of the bins. Thresholds = observed bins, so every division
    // is over a nonzero predicted-positive count; all ratios are exact
    // integer permille. This is the "pick the filter threshold"
    // calibration table a curation pipeline reads before q58's funnel
    // applies the floor.
    "q174_quality_sweep" -> ((s, dir) => {
      val bins = docs(s, dir)
        .select(col("lang"), col("text"), tokens(col("text")).as("toks"))
        .select(floor(graft.functions.TextFunctions
            .qualityScoreFromTokens(col("toks"), col("text")) * 1000)
            .cast("long").as("qp"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
        .groupBy("qp")
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("np"))
      // bounded relation from here down: ≤ 1001 rows
      val wSuffix = Window.orderBy(desc("qp"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy()
      bins
        .withColumn("pred_pos", sum(col("n")).over(wSuffix))
        .withColumn("tp", sum(col("np")).over(wSuffix))
        .withColumn("all_pos", sum(col("np")).over(wAll))
        .select(col("qp").as("thr_permille"), col("pred_pos"), col("tp"),
          (col("pred_pos") - col("tp")).as("fp"),
          (col("all_pos") - col("tp")).as("fn"),
          expr("tp * 1000 div pred_pos").as("precision_permille"),
          expr("CASE WHEN all_pos > 0 THEN tp * 1000 div all_pos " +
            "ELSE 0 END").as("recall_permille"),
          expr("2 * tp * 1000 div (pred_pos + all_pos)").as("f1_permille"))
        .orderBy(desc("thr_permille"))
    }),

    // Length-distribution OCTAVE report — the heavy-tail diagnostic
    // behind chunking/packing/spill budgets (a corpus whose doc sizes
    // decay slowly per octave needs q84/q200's chunkers and q222's
    // spill accounting; one that truncates sharply doesn't): octave =
    // bit width of n_chars via length(bin(x)) — EXACT integers in
    // both engines, the q201 device (a log2 double can't hash-match) —
    // with per-octave counts, volume, and the count decay ratio to
    // the previous octave in exact permille. One scan into a ≤64-row
    // value-domain relation; the lag window runs over that bounded
    // relation only (the q121 single-partition-window convention).
    // Unicode NFC-normalization screen — the canonicalization step a
    // multilingual corpus runs before ANY hash-based dedup or exact
    // string matching (a decomposed "e"+U+0301 and a precomposed U+00E9
    // render identically but hash differently, silently defeating
    // q25/q27's exact and near-dup keys). Normalization runs through
    // the NfcNormalize custom codegen Expression (Spark has no builtin;
    // a UDF would break whole-stage codegen on a full-corpus scan), and
    // the fixture — ASCII by construction — gets deterministic
    // combining-mark sequences WOVEN from doc_id (the piiText
    // convention) with the SAME construction in the oracle, where
    // DuckDB's nfc_normalize recomputes the composition independently
    // (two engines, two UAX #15 implementations, one hash). Per-source:
    // affected-doc permille and codepoints saved by composition.
    // Quarantine / dead-letter split — the operational face of the
    // screening tier: every ingest pipeline routes rows that fail a
    // rule into a quarantine table WITH the first-failing reason code
    // (so the fix is attributable), and this is that report — an
    // ordered CASE chain (empty → too_short → lang_excluded →
    // oversize → clean; first match wins, exactly how a router
    // dispatches) rolled up per (source, reason) with the share of
    // each source's rows in exact permille. One scan-stage projection
    // + one bounded agg; the per-source total rides a window over the
    // ≤ sources×reasons relation (the q121 bounded-window convention).
    "q245_quarantine_split" -> ((s, dir) => {
      val w = Window.partitionBy("source")
      docs(s, dir)
        .withColumn("reason",
          when(length(trim(col("text"))) === 0, "empty")
            .when(col("n_chars") < 60, "too_short")
            .when(col("lang") === "zh", "lang_excluded")
            .when(col("n_chars") > 520, "oversize")
            .otherwise("clean"))
        .groupBy("source", "reason")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("tot_src", sum(col("n_docs")).over(w))
        .withColumn("permille", expr("n_docs * 1000 div tot_src"))
        .drop("tot_src")
        .orderBy("source", "reason")
    }),

    "q232_nfc_screen" -> ((s, dir) => {
      val woven = concat(
        lit("Cafe"),
        when(expr("doc_id % 3 = 0"), lit("\u0301")).otherwise(lit("")),
        lit(" no"),
        when(expr("doc_id % 5 = 0"), lit("\u0308")).otherwise(lit("")),
        lit("l "),
        when(expr("doc_id % 7 = 0"), lit("\u00e9")).otherwise(lit("e")),
        col("doc_id").cast("string"))
      docs(s, dir)
        .select(col("source"), woven.as("w"))
        .withColumn("nw", graft.functions.NfcNormalize(col("w")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("nw") =!= col("w"), 1L).otherwise(0L))
            .as("n_non_nfc"),
          sum((length(col("w")) - length(col("nw"))).cast("long"))
            .as("chars_saved"))
        .withColumn("non_nfc_permille", expr("n_non_nfc * 1000 div n_docs"))
        .orderBy("source")
    }),

    "q228_length_octaves" -> ((s, dir) => {
      val b = Tables(s, dir, "documents")
        .select(length(expr("bin(n_chars)")).cast("long").as("octave"),
          col("n_chars"))
        .groupBy("octave")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      // bounded relation from here down: <= 64 octaves
      val w = Window.orderBy("octave")
      b.withColumn("prev_n", lag(col("n_docs"), 1).over(w))
        .withColumn("decay_permille",
          expr("CASE WHEN prev_n IS NOT NULL AND prev_n > 0 " +
            "THEN n_docs * 1000 div prev_n ELSE 0 END"))
        .drop("prev_n")
        .orderBy("octave")
    }))

  def oracle: Map[String, String] = Map(
    "q253_k_anonymity" ->
      s"""WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS nation,
         |    c_mktsegment AS segment,
         |    CAST(FLOOR(c_acctbal / 2000.0) AS BIGINT) AS band
         |  FROM customer),
         |cl AS (SELECT nation, segment, CAST(COUNT(*) AS BIGINT) AS class_n,
         |    CAST(COUNT(DISTINCT band) AS BIGINT) AS l_distinct
         |  FROM c GROUP BY 1, 2)
         |SELECT nation, segment, class_n, l_distinct,
         |  CASE WHEN class_n >= $anonK THEN 1 ELSE 0 END AS meets_k,
         |  CASE WHEN l_distinct >= $diversityL THEN 1 ELSE 0 END AS meets_l,
         |  CAST(SUM(CASE WHEN class_n < $anonK THEN class_n ELSE 0 END)
         |    OVER () AS BIGINT) AS suppressed_rows
         |FROM cl ORDER BY nation, segment""".stripMargin,
    "q245_quarantine_split" ->
      """WITH r AS (SELECT source,
        |    CASE WHEN length(trim(text)) = 0 THEN 'empty'
        |      WHEN n_chars < 60 THEN 'too_short'
        |      WHEN lang = 'zh' THEN 'lang_excluded'
        |      WHEN n_chars > 520 THEN 'oversize'
        |      ELSE 'clean' END AS reason
        |  FROM documents),
        |c AS (SELECT source, reason, CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM r GROUP BY 1, 2)
        |SELECT source, reason, n_docs,
        |  n_docs * 1000 // CAST(SUM(n_docs) OVER (PARTITION BY source)
        |    AS BIGINT) AS permille
        |FROM c ORDER BY source, reason""".stripMargin,
    "q232_nfc_screen" ->
      s"""WITH w AS (SELECT source,
         |    concat('Cafe',
         |      CASE WHEN doc_id % 3 = 0 THEN '\u0301' ELSE '' END,
         |      ' no',
         |      CASE WHEN doc_id % 5 = 0 THEN '\u0308' ELSE '' END,
         |      'l ',
         |      CASE WHEN doc_id % 7 = 0 THEN '\u00e9' ELSE 'e' END,
         |      CAST(doc_id AS VARCHAR)) AS w
         |  FROM documents),
         |n AS (SELECT source, w, nfc_normalize(w) AS nw FROM w)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN nw <> w THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_non_nfc,
         |  CAST(SUM(length(w) - length(nw)) AS BIGINT) AS chars_saved,
         |  CAST(SUM(CASE WHEN nw <> w THEN 1 ELSE 0 END) AS BIGINT)
         |    * 1000 // CAST(COUNT(*) AS BIGINT) AS non_nfc_permille
         |FROM n GROUP BY source ORDER BY source""".stripMargin,
    "q228_length_octaves" ->
      s"""WITH o AS (SELECT CAST(length(bin(n_chars)) AS BIGINT) AS octave,
         |      n_chars FROM documents),
         |g AS (SELECT octave, COUNT(*) AS n_docs,
         |      CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         |    FROM o GROUP BY octave),
         |l AS (SELECT *, LAG(n_docs, 1) OVER (ORDER BY octave) AS prev_n
         |    FROM g)
         |SELECT octave, n_docs, sum_chars,
         |  CASE WHEN prev_n IS NOT NULL AND prev_n > 0
         |    THEN n_docs * 1000 // prev_n ELSE 0 END AS decay_permille
         |FROM l ORDER BY octave""".stripMargin,
    "q112_validation_rules" -> {
      val langList = allowedLangs.map(l => s"'$l'").mkString(",")
      s"""WITH base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(CASE WHEN text IS NULL OR length(text) = 0
         |    THEN 1 ELSE 0 END) AS BIGINT) AS null_or_empty_text,
         |  CAST(SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_chars_mismatch,
         |  CAST(SUM(CASE WHEN lang NOT IN ($langList) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS lang_violations,
         |  CAST(SUM(CASE WHEN len(regexp_extract_all(
         |      ${TextAnalysisQueries.sqlUrlText},
         |      '${TextAnalysisQueries.urlRe}')) > 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS url_violations,
         |  CAST(SUM(CASE WHEN n_chars < $lenLo OR n_chars > $lenHi
         |    THEN 1 ELSE 0 END) AS BIGINT) AS len_violations
         |  FROM documents),
         |di AS (SELECT CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c END), 0)
         |         AS BIGINT) AS dup_id_rows
         |       FROM (SELECT doc_id, COUNT(*) AS c FROM documents GROUP BY 1)),
         |dt AS (SELECT CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c - 1 END), 0)
         |         AS BIGINT) AS dup_text_rows
         |       FROM (SELECT ${sqlCanonicalKey("text")} AS ck, COUNT(*) AS c
         |             FROM documents GROUP BY 1))
         |SELECT * FROM base, di, dt""".stripMargin
    },
    "q113_downsample" ->
      """SELECT event_type, epoch_ns(ts) // 3600000000000 AS hour,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  arg_min(value, epoch_ns(ts)) AS first_value,
        |  arg_max(value, epoch_ns(ts)) AS last_value,
        |  MIN(value) AS min_value, MAX(value) AS max_value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY event_type, hour""".stripMargin,
    "q114_bigram_coherence" -> {
      val toks = sqlTokens("text")
      s"""WITH d AS (SELECT doc_id, $toks AS toks FROM documents),
         |bi AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1
         |       FROM (SELECT doc_id, unnest(${sqlWordShingles("text", 2)}) AS bg
         |             FROM documents)),
         |bc AS (SELECT bg, COUNT(*) AS c_bg FROM bi GROUP BY 1),
         |uc AS (SELECT w1, COUNT(*) AS c_w1
         |       FROM (SELECT unnest(toks) AS w1 FROM d) GROUP BY 1),
         |sc AS (SELECT doc_id, (bc.c_bg * $cohScale) // uc.c_w1 AS s
         |       FROM bi JOIN bc ON bc.bg = bi.bg JOIN uc ON uc.w1 = bi.w1)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |  CAST(CAST(SUM(s) AS BIGINT) // COUNT(*) AS BIGINT)
         |    AS mean_coherence_micro
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "q268_edit_distance_join" ->
      s"""WITH k AS (SELECT doc_id, ${sqlCanonicalKey("text")} AS ck
         |      FROM documents),
         |k2 AS (SELECT doc_id, ck, substr(ck, 1, $editPrefixLen) AS pfx
         |       FROM k),
         |r AS (SELECT doc_id, pfx,
         |        CAST(ROW_NUMBER() OVER (ORDER BY ck, doc_id) - 1 AS BIGINT)
         |          AS idx
         |      FROM k2)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS edit_dist
         |FROM r a JOIN r b ON b.idx BETWEEN a.idx + 1 AND a.idx + $snWindow
         |WHERE levenshtein(a.pfx, b.pfx) <= $editTau
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q115_sorted_neighborhood" ->
      s"""WITH k AS (SELECT doc_id, ${sqlCanonicalKey("text")} AS ck
         |      FROM documents),
         |r AS (SELECT doc_id, ck,
         |        CAST(ROW_NUMBER() OVER (ORDER BY ck, doc_id) - 1 AS BIGINT)
         |          AS idx
         |      FROM k)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  a.ck = b.ck AS exact_dup
         |FROM r a JOIN r b ON b.idx BETWEEN a.idx + 1 AND a.idx + $snWindow
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q174_quality_sweep" ->
      s"""WITH bins AS (
         |  SELECT CAST(floor(${sqlQualityScore("text")} * 1000) AS BIGINT)
         |      AS qp,
         |    CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS np
         |  FROM documents GROUP BY 1),
         |sw AS (
         |  SELECT qp,
         |    CAST(SUM(n) OVER (ORDER BY qp DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS pred_pos,
         |    CAST(SUM(np) OVER (ORDER BY qp DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS tp,
         |    CAST(SUM(np) OVER () AS BIGINT) AS all_pos
         |  FROM bins)
         |SELECT qp AS thr_permille, pred_pos, tp,
         |  pred_pos - tp AS fp, all_pos - tp AS fn,
         |  tp * 1000 // pred_pos AS precision_permille,
         |  CASE WHEN all_pos > 0 THEN tp * 1000 // all_pos
         |    ELSE 0 END AS recall_permille,
         |  2 * tp * 1000 // (pred_pos + all_pos) AS f1_permille
         |FROM sw ORDER BY thr_permille DESC""".stripMargin)
}
