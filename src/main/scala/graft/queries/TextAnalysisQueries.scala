package graft.queries

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis surface over `documents`: language-ID, quality scoring,
  * token counting, document fingerprinting. Pure built-in expressions
  * (split / HOF folds / regexes) — everything evaluates in the scan
  * stage, one narrow pass per doc, the only shuffles are the final small
  * groupBys. DuckDB twins generated from the same constants in
  * [[graft.functions.TextFunctions]].
  */
object TextAnalysisQueries extends graft.QueryFamily {

  private val bpeRegex = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** PII patterns shared by the Spark plan and the DuckDB twin —
    * lowercase classes (the corpus is lowercase), and only syntax in
    * the Java-regex ∩ RE2 intersection (no lookarounds, no backrefs).
    */
  private val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val ipRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  private[queries] val urlRe = "https?://[a-z0-9.-]+(/[^ ]*)?"

  /** The synthetic corpus carries no PII/URLs, so q61/q63 WEAVE
    * deterministic tokens into each doc (same construction in the
    * oracle) and run the real redaction/extraction machinery on top —
    * the operator under test is the regex pipeline, not the fixture.
    */
  private def piiText: Column = concat(col("text"),
    lit(" contact user"), col("doc_id").cast("string"),
    lit("@mail"), (col("doc_id") % 7).cast("string"),
    lit(".com via 10."), (col("doc_id") % 256).cast("string"),
    lit("."), ((col("doc_id") * 7) % 256).cast("string"),
    lit("."), ((col("doc_id") * 13) % 256).cast("string"))
  private val sqlPiiText =
    "concat(text, ' contact user', CAST(doc_id AS VARCHAR), '@mail', " +
      "CAST(doc_id % 7 AS VARCHAR), '.com via 10.', " +
      "CAST(doc_id % 256 AS VARCHAR), '.', CAST((doc_id * 7) % 256 AS VARCHAR), " +
      "'.', CAST((doc_id * 13) % 256 AS VARCHAR))"

  private[queries] def urlText: Column = concat(col("text"),
    lit(" see https://www.site"), (col("doc_id") % 23).cast("string"),
    lit(".com/p/"), col("doc_id").cast("string"),
    lit(" and http://cdn"), (col("doc_id") % 5).cast("string"), lit(".net/x"))
  private[queries] val sqlUrlText =
    "concat(text, ' see https://www.site', CAST(doc_id % 23 AS VARCHAR), " +
      "'.com/p/', CAST(doc_id AS VARCHAR), ' and http://cdn', " +
      "CAST(doc_id % 5 AS VARCHAR), '.net/x')"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // n-gram/stopword language-ID heuristic vs the labeled lang column
    "q21_lang_id" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .withColumn("predicted", langId(col("text")))
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang", "predicted")
    }),

    // per-doc quality score: token count, vocabulary ratio, punctuation
    // ratio, stopword ratio — fixed double formula, same tree in DuckDB
    "q22_quality_score" -> ((s, dir) => {
      val punct = length(regexp_replace(col("text"), "[a-z0-9 ]", "")).cast("double")
      Tables(s, dir, "documents")
        // inner projection materializes the token array ONCE (see
        // qualityScoreFromTokens scaladoc: inlined, the tokenizer runs
        // 4× per row)
        .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_distinct"),
          punct.cast("long").as("punct_chars"),
          // the scoring tree lives in TextFunctions — shared with the
          // CurationPipeline's quality floor
          graft.functions.TextFunctions
            .qualityScoreFromTokens(col("toks"), col("text")).as("quality"))
        .orderBy("doc_id")
    }),

    // whitespace vs BPE-ish regex tokenization, aggregated per source
    "q23_token_count" -> ((s, dir) => {
      val ws = size(filter(split(col("text"), "\\s+"), t => t =!= ""))
      val bpe = size(regexp_extract_all(lower(col("text")), lit(bpeRegex), lit(0)))
      Tables(s, dir, "documents")
        .select(col("source"), ws.as("ws_tokens"), bpe.as("bpe_tokens"),
          length(col("text")).as("n_chars"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws_tokens")).as("sum_ws_tokens"),
          sum(col("bpe_tokens")).as("sum_bpe_tokens"),
          (sum(col("bpe_tokens")).cast("double") / count(lit(1))).as("avg_bpe_tokens"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("source")
    }),

    // document fingerprints: whole-text polynomial hash + min/max 8-gram
    // hash (winnowing-style content anchors, shift-robust)
    "q24_fingerprint" -> ((s, dir) => {
      // one CharGramHashes pass (O(len), no per-gram substring); texts
      // shorter than 8 chars yield an empty array → array_min/max null,
      // matching DuckDB's list_min over the empty range
      val gramHashes = graft.functions.CharGramHashes(col("text"), 8)
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          polyHash(col("text")).as("fp"),
          array_min(gramHashes).as("min_gram8"),
          array_max(gramHashes).as("max_gram8"))
        .orderBy("doc_id")
    }),

    // deterministic train/val/test assignment by CONTENT hash bucket
    // (80/10/10): reproducible on any cluster size / partition layout,
    // unlike rng-based sample() whose draws follow the partitioning —
    // the standard reproducible-split pattern of a training pipeline.
    // Keyed on the text hash so exact duplicates land in ONE split
    // (no train/test leakage between copies).
    "q57_hash_split" -> ((s, dir) => {
      val bucket = pmod(polyHash(col("text")), lit(100))
      val split = when(bucket < 80, "train")
        .when(bucket < 90, "val").otherwise("test")
      Tables(s, dir, "documents")
        .select(split.as("split"), col("n_chars"), col("lang"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy("split")
    }),

    // staged curation funnel: how many docs survive each successive
    // filter of a pre-training cleanup (language keep → quality floor →
    // exact-dup representative). ONE scan with nested conditional
    // aggregates; the dedup stage reuses q25's canonical key, keeping
    // min(doc_id) per canonical class via a window on the same pass's
    // shuffle.
    "q58_curation_funnel" -> ((s, dir) => {
      // threshold 0.6 sits INSIDE the corpus quality range (observed
      // min 0.55) so the floor stage actually filters — 0.5 would pass
      // every document and demonstrate nothing
      val quality = lengthScore(col("text")) * 0.5 +
        (lit(1.0) - punctRatio(col("text"))) * 0.5
      val w = Window.partitionBy("canon_key")
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), quality.as("q"),
          canonicalKey(col("text")).as("canon_key"))
        .withColumn("rep_doc", min(col("doc_id")).over(w))
        .agg(count(lit(1)).as("n_total"),
          count(when(col("lang") === "en", 1)).as("n_lang"),
          count(when(col("lang") === "en" && col("q") >= 0.6, 1)).as("n_quality"),
          count(when(col("lang") === "en" && col("q") >= 0.6 &&
            col("doc_id") === col("rep_doc"), 1)).as("n_final"))
    }),

    // full winnowing fingerprints (Schleimer et al., MOSS): distinct
    // sliding-window-minima of the positional 8-gram hashes, window 4.
    // CharGramHashes + WinnowedMins are two codegen'd map passes —
    // O(len) per doc, no shuffle before the final tiny projection.
    "q55_winnowing" -> ((s, dir) => {
      val hs = graft.functions.CharGramHashes(col("text"), 8)
      val fps = array_distinct(graft.functions.WinnowedMins(hs, 4))
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(fps).as("n_fingerprints"),
          array_min(fps).as("min_fp"),
          array_max(fps).as("max_fp"))
        .orderBy("doc_id")
    }),

    // PII scrub: count + redact emails and IPv4s in one scan-stage
    // pass (regexp_count + chained regexp_replace, all codegen'd).
    // redacted_len/redacted_tail hash-gate the actual replacement
    // output, not just the counts. At 100 TB this is a pure map —
    // no shuffle except the oracle-mandated sort.
    "q61_pii_redact" -> ((s, dir) => {
      val redacted = regexp_replace(
        regexp_replace(piiText, emailRe, "<EMAIL>"), ipRe, "<IP>")
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          regexp_count(piiText, lit(emailRe)).cast("long").as("n_emails"),
          regexp_count(piiText, lit(ipRe)).cast("long").as("n_ips"),
          length(redacted).cast("long").as("redacted_len"),
          // last 32 chars of the redacted text (every doc exceeds 32
          // chars: the woven suffix alone is ~38) — hash-gates content
          substring(redacted, -32, 32).as("redacted_tail"))
        .orderBy("doc_id")
    }),

    // within-doc repetition: word-frequency profile per document —
    // total/distinct tokens, hottest token count, repeated-token
    // ratio (the boilerplate/spam signal a pre-training cleanup
    // thresholds on). explode → (doc, word) partial-agg → per-doc agg:
    // two map-side-combined shuffles, no per-doc state on the driver.
    "q62_repetition" -> ((s, dir) => {
      val words = Tables(s, dir, "documents")
        .select(col("doc_id"),
          explode(filter(split(col("text"), " "), w => w =!= "")).as("word"))
      words.groupBy("doc_id", "word").agg(count(lit(1)).as("f"))
        .groupBy("doc_id")
        .agg(sum(col("f")).as("n_words"),
          count(lit(1)).as("n_distinct"),
          max(col("f")).as("max_freq"),
          ((sum(col("f")) - count(lit(1))).cast("double") /
            sum(col("f")).cast("double")).as("rep_ratio"))
        .orderBy("doc_id")
    }),

    // quantile-based filtering: keep docs at or above the global p75
    // length — the "top-quartile quality band" selection. Two passes:
    // a tiny scalar agg (exact percentile, broadcast back) then a
    // scan-stage filter + rollup. n_chars is integer-valued and 0.75
    // is binary-exact, so the interpolated threshold is bit-identical
    // cross-engine. At 100 TB the scale path swaps the exact
    // percentile for ApproxStats' sketch with zero shape change.
    "q65_quantile_filter" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val thr = docs.agg(
        expr("percentile(n_chars, 0.75D)").as("p75"))
      docs.join(broadcast(thr))  // hint audit: scalar (one-row percentile threshold)
        .where(col("n_chars").cast("double") >= col("p75"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("n_chars")).as("min_chars"))
        .orderBy("lang")
    }),

    // q65's 100 TB swap as CODE, gated the q81 way: the threshold
    // aggregate computes BOTH the exact p75 (a sort-based/global
    // aggregate — fine at gate scale, the cliff at 100 TB) and the
    // mergeable percentile_approx sketch (fixed memory, one pass —
    // the production threshold). The hashed output carries the
    // exact-threshold rollup bit-for-bit plus two tolerance bounds the
    // DuckDB twin asserts TRUE: the sketch threshold sits within 5% of
    // the exact one (adjacent n_chars order stats near p75 are ≤6
    // apart on a ~420 domain at every driver SF), and the row count
    // the sketch threshold would keep differs from the exact-threshold
    // count by at most 2% + 2 rows per language (rank error ≤
    // n/accuracy plus the interpolation straddle). Dropping the exact
    // branch leaves exactly the plan you run at 100 TB.
    "q88_quantile_filter_sketch" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val thr = docs.agg(
        expr("percentile(n_chars, 0.75D)").as("p75_exact"),
        expr("percentile_approx(n_chars, 0.75D, 10000)")
          .cast("double").as("p75_sketch"))
      val nc = col("n_chars").cast("double")
      docs.join(broadcast(thr))  // hint audit: scalar (one-row threshold pair)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          count(when(nc >= col("p75_exact"), 1)).as("n_kept"),
          count(when(nc >= col("p75_sketch"), 1)).as("n_kept_sketch"),
          first(col("p75_exact")).as("p75_exact"),
          first(col("p75_sketch")).as("p75_sketch"))
        .select(col("lang"), col("n_docs"), col("n_kept"),
          (abs(col("p75_sketch") - col("p75_exact")) / col("p75_exact") <= 0.05)
            .as("thr_within_tol"),
          (abs(col("n_kept_sketch") - col("n_kept")).cast("double") <=
            col("n_docs").cast("double") * 0.02 + 2.0).as("kept_within_tol"))
        .orderBy("lang")
    }),

    // stratified downsampling: per-language keep rates applied via a
    // deterministic content-hash draw — reproducible on any cluster
    // size/partition layout (rng sample() is not), and exact dups get
    // the same draw so a kept doc's copies stay together. Pure map +
    // tiny rollup.
    "q66_stratified_sample" -> ((s, dir) => {
      val rate = when(col("lang") === "en", 25).otherwise(75)
      val kept = pmod(polyHash(col("text")), lit(100)) < rate
      Tables(s, dir, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_total"),
          count(when(kept, 1)).as("n_kept"),
          sum(when(kept, col("n_chars"))).as("kept_chars"))
        .orderBy("lang")
    }),

    // dataset-mixing weights: per-source inverse-sqrt frequency weight
    // normalized against the LARGEST source (max-normalization keeps
    // every arithmetic step a deterministic scalar op — a sum-normalized
    // weight would divide by an order-sensitive float reduction).
    "q67_mix_weights" -> ((s, dir) => {
      val counts = Tables(s, dir, "documents")
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
      val maxN = counts.agg(max(col("n_docs")).as("max_n"))
      counts.join(broadcast(maxN))  // hint audit: scalar (one-row max)
        .select(col("source"), col("n_docs"),
          sqrt(col("max_n").cast("double") / col("n_docs").cast("double"))
            .as("weight"))
        .orderBy("source")
    }),

    // Epoch-mixture materialization: the upsampling q67 only PLANS.
    // Every language is brought toward the largest language's share by
    // integer milli-unit repetition factors (max_n*1000 div n, capped
    // at 32× — the standard guard against overfitting a tiny slice),
    // each doc repeated floor(r) times plus one more when its
    // content-hash draw falls under the fractional part — the same
    // deterministic, layout-independent draw as q66, so exact dups
    // repeat identically and the epoch is reproducible on any cluster.
    // The explode is scan-stage with fan-out = epoch_size/corpus_size
    // (bounded by the 32× cap), and the only shuffles are the tiny
    // lang-count rollup + the gate's output sort.
    "q149_epoch_mix" -> ((s, dir) => {
      val repCap = 32L
      val counts = Tables(s, dir, "documents")
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      val rm = counts.join(broadcast(counts.agg(max(col("n_docs")).as("max_n"))))  // hint audit: scalar (one-row max)
        .select(col("lang"),
          least(expr("max_n * 1000 div n_docs"), lit(repCap * 1000L))
            .as("r_milli"))
      Tables(s, dir, "documents")
        .join(broadcast(rm), "lang")  // hint audit: dimension-bounded (per-lang rep factors)
        .select(col("lang"), col("doc_id"),
          (expr("r_milli div 1000") +
            when(pmod(polyHash(col("text")), lit(1000)) < col("r_milli") % 1000,
              1L).otherwise(0L)).as("reps"))
        .select(col("lang"), col("doc_id"),
          explode(sequence(lit(1L), col("reps"))).as("rep"))
        .orderBy("doc_id", "rep")
    }),

    // sequence packing: greedy sequential fill of fixed token-budget
    // bins via a running token cumsum — bin = (cum - tokens) / budget.
    // Packing needs an order, so the stream is SHARDED (doc_id % 8)
    // and the window partitions by shard: each shard's prefix-sum runs
    // independently — the distributed form of what a single global
    // window (one-partition anti-pattern) would compute. The budget is
    // a power of two, so fill_ratio is an exact binary division.
    "q68_seq_packing" -> ((s, dir) => {
      val budget = 2048
      val toks = size(filter(split(col("text"), " "), w => w =!= ""))
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
          toks.cast("long").as("toks"))
        .withColumn("cum", sum(col("toks")).over(w))
        .select(col("shard"),
          ((col("cum") - col("toks")) / budget).cast("long").as("bin"),
          col("toks"))
        .groupBy("shard", "bin")
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("sum_tokens"),
          (sum(col("toks")).cast("double") / budget).as("fill_ratio"))
        .orderBy("shard", "bin")
    }),

    // URL extraction + domain filtering: extract-all → explode →
    // domain parse → blocklist filter → per-domain rollup. The
    // extraction fan-out is bounded by URLs per doc; the only real
    // shuffle is the tiny domain agg.
    "q63_url_domains" -> ((s, dir) => {
      val urls = Tables(s, dir, "documents")
        .select(col("doc_id"),
          explode(regexp_extract_all(urlText, lit(urlRe), lit(0))).as("url"))
        .select(col("doc_id"),
          regexp_extract(col("url"), "https?://([^/]+)", 1).as("domain"))
      urls.where(!col("domain").endsWith(".net")) // blocklist demo
        .groupBy("domain")
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy("domain")
    }))

  def oracle: Map[String, String] = Map(
    "q21_lang_id" ->
      s"""SELECT lang, ${sqlLangId("text")} AS predicted,
         |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         |FROM documents GROUP BY lang, predicted
         |ORDER BY lang, predicted""".stripMargin,
    "q22_quality_score" -> {
      val toks = sqlTokens("text")
      s"""SELECT doc_id,
         |  len($toks) AS n_tokens,
         |  len(list_distinct($toks)) AS n_distinct,
         |  CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS BIGINT) AS punct_chars,
         |  ${sqlQualityScore("text")} AS quality
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "q23_token_count" ->
      s"""SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(ws_tokens) AS BIGINT) AS sum_ws_tokens,
         |  CAST(SUM(bpe_tokens) AS BIGINT) AS sum_bpe_tokens,
         |  CAST(SUM(bpe_tokens) AS DOUBLE) / COUNT(*) AS avg_bpe_tokens,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         |FROM (SELECT source,
         |    len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS ws_tokens,
         |    len(regexp_extract_all(lower(text), '$bpeRegex')) AS bpe_tokens,
         |    length(text) AS n_chars
         |  FROM documents)
         |GROUP BY source ORDER BY source""".stripMargin,
    "q24_fingerprint" ->
      s"""SELECT doc_id,
         |  ${sqlPolyHash("text")} AS fp,
         |  list_min(gram_hashes) AS min_gram8,
         |  list_max(gram_hashes) AS max_gram8
         |FROM (SELECT doc_id, text,
         |    list_transform(range(1, length(text) - 6),
         |      i -> ${sqlPolyHash("substring(text, CAST(i AS INT), 8)")}) AS gram_hashes
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "q57_hash_split" ->
      s"""SELECT split, COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |  COUNT(DISTINCT lang) AS n_langs
         |FROM (SELECT CASE WHEN b < 80 THEN 'train'
         |                  WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
         |        n_chars, lang
         |      FROM (SELECT ${sqlPolyHash("text")} % 100 AS b, n_chars, lang
         |            FROM documents))
         |GROUP BY split ORDER BY split""".stripMargin,
    "q58_curation_funnel" ->
      s"""WITH d AS (
         |  SELECT doc_id, lang,
         |    ${sqlLengthScore("text")} * 0.5
         |      + (1.0 - ${sqlPunctRatio("text")}) * 0.5 AS q,
         |    ${sqlCanonicalKey("text")} AS canon_key
         |  FROM documents),
         |r AS (SELECT *, MIN(doc_id) OVER (PARTITION BY canon_key) AS rep_doc FROM d)
         |SELECT COUNT(*) AS n_total,
         |  COUNT(CASE WHEN lang = 'en' THEN 1 END) AS n_lang,
         |  COUNT(CASE WHEN lang = 'en' AND q >= 0.6 THEN 1 END) AS n_quality,
         |  COUNT(CASE WHEN lang = 'en' AND q >= 0.6 AND doc_id = rep_doc THEN 1 END) AS n_final
         |FROM r""".stripMargin,
    "q55_winnowing" ->
      s"""SELECT doc_id, len(fps) AS n_fingerprints,
         |  list_min(fps) AS min_fp, list_max(fps) AS max_fp
         |FROM (
         |  SELECT doc_id, list_distinct(list_transform(
         |    range(1, greatest(len(hs) - 2, 1)),
         |    i -> list_min(hs[CAST(i AS INT):CAST(i + 3 AS INT)]))) AS fps
         |  FROM (SELECT doc_id,
         |      list_transform(range(1, length(text) - 6),
         |        i -> ${sqlPolyHash("substring(text, CAST(i AS INT), 8)")}) AS hs
         |    FROM documents))
         |ORDER BY doc_id""".stripMargin,
    "q61_pii_redact" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '$emailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '$ipRe')) AS BIGINT) AS n_ips,
         |  CAST(length(red) AS BIGINT) AS redacted_len,
         |  substring(red, -32, 32) AS redacted_tail
         |FROM (
         |  SELECT doc_id, t,
         |    regexp_replace(regexp_replace(t, '$emailRe', '<EMAIL>', 'g'),
         |      '$ipRe', '<IP>', 'g') AS red
         |  FROM (SELECT doc_id, $sqlPiiText AS t FROM documents))
         |ORDER BY doc_id""".stripMargin,
    "q62_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |f AS (SELECT doc_id, word, COUNT(*) AS f FROM w
        |      WHERE word <> '' GROUP BY doc_id, word)
        |SELECT doc_id, CAST(SUM(f) AS BIGINT) AS n_words,
        |  COUNT(*) AS n_distinct, CAST(MAX(f) AS BIGINT) AS max_freq,
        |  CAST(SUM(f) - COUNT(*) AS DOUBLE) / CAST(SUM(f) AS DOUBLE) AS rep_ratio
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q65_quantile_filter" ->
      """WITH t AS (SELECT quantile_cont(n_chars, 0.75) AS p75 FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  MIN(n_chars) AS min_chars
        |FROM documents, t WHERE CAST(n_chars AS DOUBLE) >= p75
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q88_quantile_filter_sketch" ->
      """WITH t AS (SELECT quantile_cont(n_chars, 0.75) AS p75 FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |  COUNT(CASE WHEN CAST(n_chars AS DOUBLE) >= p75 THEN 1 END) AS n_kept,
        |  TRUE AS thr_within_tol, TRUE AS kept_within_tol
        |FROM documents, t
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q66_stratified_sample" ->
      s"""SELECT lang, COUNT(*) AS n_total,
         |  COUNT(CASE WHEN kept THEN 1 END) AS n_kept,
         |  CAST(SUM(CASE WHEN kept THEN n_chars END) AS BIGINT) AS kept_chars
         |FROM (SELECT lang, n_chars,
         |    (${sqlPolyHash("text")} % 100)
         |      < (CASE WHEN lang = 'en' THEN 25 ELSE 75 END) AS kept
         |  FROM documents)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "q67_mix_weights" ->
      """WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
        |m AS (SELECT MAX(n_docs) AS max_n FROM c)
        |SELECT source, n_docs,
        |  sqrt(CAST(max_n AS DOUBLE) / CAST(n_docs AS DOUBLE)) AS weight
        |FROM c, m ORDER BY source""".stripMargin,
    "q149_epoch_mix" ->
      s"""WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1),
         |m AS (SELECT MAX(n_docs) AS max_n FROM c),
         |r AS (SELECT lang, LEAST(max_n * 1000 // n_docs, 32000) AS r_milli
         |      FROM c, m),
         |d AS (SELECT d0.lang, d0.doc_id, r_milli // 1000 +
         |      (CASE WHEN (${sqlPolyHash("text")} % 1000) < r_milli % 1000
         |        THEN 1 ELSE 0 END) AS reps
         |    FROM documents d0 JOIN r USING (lang))
         |SELECT lang, doc_id,
         |  CAST(unnest(range(1, reps + 1)) AS BIGINT) AS rep
         |FROM d ORDER BY doc_id, rep""".stripMargin,
    "q68_seq_packing" ->
      """WITH d AS (SELECT doc_id, doc_id % 8 AS shard,
        |    len(list_filter(string_split(text, ' '), w -> w <> '')) AS toks
        |  FROM documents),
        |c AS (SELECT shard, toks, SUM(toks) OVER (PARTITION BY shard
        |        ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
        |        AND CURRENT ROW) AS cum FROM d)
        |SELECT shard, CAST((cum - toks) // 2048 AS BIGINT) AS bin,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(toks) AS BIGINT) AS sum_tokens,
        |  CAST(SUM(toks) AS DOUBLE) / 2048 AS fill_ratio
        |FROM c GROUP BY shard, bin ORDER BY shard, bin""".stripMargin,
    "q63_url_domains" ->
      s"""WITH u AS (
         |  SELECT doc_id,
         |    unnest(regexp_extract_all($sqlUrlText, '$urlRe')) AS url
         |  FROM documents),
         |d AS (SELECT doc_id, regexp_extract(url, 'https?://([^/]+)', 1) AS domain
         |      FROM u)
         |SELECT domain, COUNT(*) AS n_urls, COUNT(DISTINCT doc_id) AS n_docs
         |FROM d WHERE NOT domain LIKE '%.net'
         |GROUP BY domain ORDER BY domain""".stripMargin)
}
