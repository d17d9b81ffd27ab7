package graft.queries

import ModelOpsQueries.inDelta
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 corpus-ops tier: the data-selection and serving-layout
  * operators a training-data pipeline needs AROUND dedup/quality —
  * importance-weighted selection (DSIR), substring-level duplication
  * measurement, a sharded inverted index, compaction planning, weighted
  * sampling, and histogram-compressed exact medians. Every query is
  * oracle-gated; all cross-engine arithmetic is integer (`div` / `//`
  * floor division on BIGINT), so results are bit-identical at any
  * parallelism.
  */
object CorpusOpsQueries extends graft.QueryFamily {

  /** q96 DSIR: hashed-feature bucket count and the fixed-point scale of
    * the per-bucket importance weight. 64 buckets keeps the weight table
    * a trivially-broadcast literal-sized dim at ANY corpus size — the
    * whole point of hashed importance estimation.
    */
  private val dsirBuckets = 64L
  private val dsirScale = 1000000L

  /** q97 duplicated-span gram width (token 5-grams — wide enough that a
    * match is a copied phrase, not a common collocation).
    */
  private val dupN = 5

  /** q276: Lee et al. 2022's operative duplicate-span threshold
    * (tokens), and the stop-gram anchor cap — grams in more than
    * `spanDfCap` distinct docs are too frequent to anchor positional
    * alignment (fan-out guard; never binds on the fixture, max df 3).
    */
  private val spanL = 50L
  private val spanDfCap = 8L

  /** q280 SymSpell: minimum vocab-term length (1-deletes of very
    * short terms are too ambiguous to index) and minimum typo-source
    * length — every vocab term of typo length sources one
    * deterministic query (deletion position = polyHash mod length).
    */
  private val symTermLen = 4
  private val symTypoLen = 5

  /** The q280/q286 DuckDB twin — from-scratch SymSpell; q286 matching
    * it exactly is the incremental-equals-from-scratch proof.
    */
  private lazy val sqlSymspell: String = {
    def sqlDels(t: String) =
      s"list_distinct(list_append(list_transform(range(0, length($t)), " +
        s"i -> substr($t, 1, CAST(i AS INT)) || " +
        s"substr($t, CAST(i + 2 AS INT), length($t))), $t))"
    val pp = s"CAST(${sqlPolyHash("term")} % length(term) AS INT)"
    s"""WITH v AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
       |      FROM (SELECT unnest(${sqlTokens("text")}) AS term
       |            FROM documents)
       |      WHERE length(term) >= $symTermLen GROUP BY term),
       |idx AS (SELECT term, cnt, unnest(${sqlDels("term")}) AS k FROM v),
       |q AS (SELECT term AS src,
       |        substr(term, 1, $pp) ||
       |          substr(term, $pp + 2, length(term)) AS typo
       |      FROM v WHERE length(term) >= $symTypoLen),
       |qd AS (SELECT src, typo, unnest(${sqlDels("typo")}) AS k FROM q),
       |cand AS (SELECT DISTINCT src, typo, term, cnt
       |         FROM qd JOIN idx USING (k)
       |         WHERE levenshtein(typo, term) <= 1),
       |r AS (SELECT src, typo, term, cnt,
       |        ROW_NUMBER() OVER (PARTITION BY src, typo
       |          ORDER BY cnt DESC, term) AS rn,
       |        CAST(COUNT(*) OVER (PARTITION BY src, typo) AS BIGINT)
       |          AS n_candidates
       |      FROM cand)
       |SELECT src, typo, term AS correction, cnt AS correction_count,
       |  n_candidates
       |FROM r WHERE rn = 1 ORDER BY src, typo""".stripMargin
  }

  /** The q280/q286 term-count relation: one scan of `part`'s text. */
  private def symspellVocab(part: DataFrame): DataFrame = part
    .select(explode(tokens(col("text"))).as("term"))
    .where(length(col("term")) >= symTermLen)
    .groupBy("term").agg(count(lit(1)).as("cnt"))

  /** The SymSpell chain over a (term, cnt) vocabulary — ONE
    * definition for the from-scratch (q280) and incremental (q286)
    * builds, so the index contract (delete-key set, typo derivation,
    * verify rule, ranking) cannot drift between the two paths.
    */
  private def symspellFrom(vocab: DataFrame): DataFrame = {
    def dels(c: String) = expr(
      s"array_union(array($c), transform(sequence(0, length($c) - 1), " +
        s"i -> concat(substr($c, 1, i), substr($c, i + 2, length($c)))))")
    val index = vocab.select(col("term"), col("cnt"),
      explode(dels("term")).as("k"))
    val p = (polyHash(col("term")) % length(col("term"))).cast("int")
    val typos = vocab
      .where(length(col("term")) >= symTypoLen)
      .select(col("term").as("src"),
        concat(substr(col("term"), lit(1), p),
          substr(col("term"), p + 2, length(col("term")))).as("typo"))
    val qdel = typos.select(col("src"), col("typo"),
      explode(dels("typo")).as("k"))
    // both joins unhinted: the delete index is vocab-scaled (at a
    // web-corpus vocabulary it no longer broadcasts), the candidate
    // set is collision-scaled
    val cand = qdel.join(index, Seq("k"))
      .where(levenshtein(col("typo"), col("term")) <= 1)
      .select("src", "typo", "term", "cnt").distinct()
    val w = Window.partitionBy("src", "typo")
      .orderBy(desc("cnt"), asc("term"))
    cand
      .withColumn("rn", row_number().over(w))
      .withColumn("n_candidates", count(lit(1)).over(
        Window.partitionBy("src", "typo")))
      .where(col("rn") === 1)
      .select(col("src"), col("typo"), col("term").as("correction"),
        col("cnt").as("correction_count"), col("n_candidates"))
      .orderBy("src", "typo")
  }

  /** q98 postings shard width: each (term, shard) posting list holds at
    * most this many doc ids, so no term — however hot — ever builds an
    * unbounded list on one reducer.
    */
  val shardSize = 2500L

  /** q99 compaction planner: docs-per-input-file granule and the target
    * compacted output size (scaled to the fixture; the ratio is what
    * matters).
    */
  private[queries] val fileGranule = 50L
  private[queries] val targetBytes = 64000L

  /** q100 weighted sample: draws per stratum and the fixed-point scale
    * of the priority key.
    */
  private val wsK = 20
  private val wsScale = 1000000L

  /** q105 curriculum: docs per training shard (100 → 5 shards at the
    * 500-doc fixtures, 50 at sf0.1 — a non-trivial cut at every SF).
    */
  private val shardDocs = 100L

  /** q109: vocabulary head size per source. */
  private val termK = 5

  /** q110 conjunctive query terms: `dup` hits ~5% of docs (the
    * duplicate-pair texts), `spark` ~80% — a selective ∧ common pair.
    */
  private val qTermA = "dup"
  private val qTermB = "spark"

  /** q179: negative-sampling table head size. */
  private val negSampleV = 32

  /** Exact integer isqrt: floor(√x) for any non-negative BIGINT, as the
    * double-sqrt seed with a ±1 correction — exact even where the
    * double cast of x loses low bits (x up to 2^60 in q179's n³), so
    * both engines agree bit-for-bit. ONE definition shared by q171's
    * sqrt-temperature weights, q179's n^(3/4) smoothing (isq∘isq), and
    * the ExpressionPropertySpec saturation-boundary property — the
    * production expression IS the property-tested one.
    */
  private[graft] def isqrtExact(x: Column): Column = {
    val seed = floor(sqrt(x.cast("double"))).cast("long")
    when((seed + 1) * (seed + 1) <= x, seed + 1)
      .when(seed * seed > x, seed - 1)
      .otherwise(seed)
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** The q276/q277 duplicate-span relation — ONE definition for the
    * measurement and removal faces: (doc, 0-based pos, 5-gram hash)
    * occurrences, anchors df-capped (grams in > spanDfCap docs are
    * stop-grams that cannot anchor positional alignment), cross-doc
    * matches aligned per (doc_id, doc_b, diagonal), maximal
    * consecutive runs via the islands device. Returns (toked docs,
    * spans): spans carries one row per maximal shared span with its
    * token length (`span` = run + dupN − 1) and 0-based start `p0`.
    * Both joins unhinted: the df-filtered anchor set and the matched
    * relation are corpus fractions (the q161 convention).
    */
  private def dupSpanFrames(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val toked = docs(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val occ = toked.select(col("doc_id"),
      posexplode(graft.functions.ShingleHash(col("toks"), dupN)))
      .select(col("doc_id"), col("pos"), col("col").as("h"))
    val gdf = occ.select("doc_id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("df"))
      .where(col("df") >= 2 && col("df") <= spanDfCap)
      .select("h")
    val anchored = occ.join(gdf, Seq("h"))
    val m = anchored
      .join(anchored.select(col("h"), col("doc_id").as("doc_b"),
        col("pos").as("pos_b")), Seq("h"))
      .where(col("doc_id") =!= col("doc_b"))
      .select(col("doc_id"), col("doc_b"), col("pos"),
        (col("pos") - col("pos_b")).as("diag"))
    val wd = Window.partitionBy("doc_id", "doc_b", "diag")
      .orderBy("pos")
    val spans = m.withColumn("grp", col("pos") - row_number().over(wd))
      .groupBy("doc_id", "doc_b", "diag", "grp")
      .agg((count(lit(1)) + lit(dupN - 1).cast("long")).as("span"),
        min(col("pos")).as("p0"))
    (toked, spans)
  }

  /** q198 continuation-ratio fixed-point scale. */
  private val fluencyScale = 1000000L

  /** q200 chunking geometry: 50-token chunks, stride 40 (10-token
    * overlap so a fact straddling a boundary survives in one piece).
    */
  private val chunkW = 50
  private val chunkStride = 40
  /** q214: docs sampled per source (the inspection-batch size). */
  private val groupSampleK = 5
  private val chunkOverlap = chunkW - chunkStride

  /** The (term, shard) sharded-postings aggregation — ONE definition
    * shared by q98 (batch build), q163 (incremental merge), and the
    * streaming q164, so the index contract (shard width, df_shard
    * definition, postings order) cannot drift between the three build
    * paths. Postings stay a sorted LIST here; gated outputs serialize
    * to CSV (the gate harness hashes scalars, not list columns).
    */
  def shardedIndex(part: DataFrame): DataFrame = part
    .select(col("doc_id"),
      explode(array_distinct(tokens(col("text")))).as("term"))
    .withColumn("shard", expr(s"doc_id div $shardSize"))
    .groupBy("term", "shard")
    .agg(count(lit(1)).as("df_shard"),
      sort_array(collect_list(col("doc_id"))).as("postings"))

  /** q98's from-scratch DuckDB twin — also the q163/q164 oracle: the
    * incremental and streaming builds must match it EXACTLY (delta
    * doc_ids are disjoint, so merged ≡ from-scratch).
    */
  val fromScratchIndexSql: String =
    s"""WITH t AS (SELECT DISTINCT doc_id, term
       |      FROM (SELECT doc_id, unnest(${sqlTokens("text")}) AS term
       |            FROM documents))
       |SELECT term, doc_id // $shardSize AS shard,
       |  CAST(COUNT(*) AS BIGINT) AS df_shard,
       |  array_to_string(list_sort(list(doc_id)), ',') AS postings
       |FROM t GROUP BY 1, 2 ORDER BY term, shard""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // DSIR-style importance weighting (Xie et al. 2023, arXiv:2302.03169
    // — public): score every train doc by how target-like its hashed
    // n-gram features are. Features = unigram polynomial hashes folded
    // into 64 buckets; per-bucket weight = add-one-smoothed
    // target/source occurrence ratio in fixed-point. This is the
    // additive (log-free) integer variant, so both engines agree
    // bit-for-bit. Plan shape at 100 TB: ONE scan builds the 64-row
    // histogram (map-side partials into 64 keys), the weight table
    // broadcasts, a second scan scores — no high-cardinality shuffle
    // beyond the per-doc regroup, target slice fixed (q73's horizon).
    "q96_importance_weights" -> ((s, dir) => {
      val isEval = PipelineOpsQueries.isTestDoc(col("doc_id"))
      val tok = docs(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
        .select(col("doc_id"), (polyHash(col("t")) % dsirBuckets).as("b"))
      val hist = tok.groupBy("b").agg(
        sum(when(isEval, 1L).otherwise(0L)).as("tgt"),
        sum(when(isEval, 0L).otherwise(1L)).as("src"))
      val weights = hist.select(col("b"),
        expr(s"((tgt + 1) * $dsirScale) div (src + 1)").as("wb"))
      tok.where(!isEval)
        .join(broadcast(weights), "b")  // hint audit: dimension-bounded (64 DSIR buckets)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), sum(col("wb")).as("score"))
        .orderBy("doc_id")
    }),

    // Substring-level duplication measurement (the signal behind exact
    // substring dedup, Lee et al. 2022, arXiv:2107.06499): what fraction
    // of each doc's token 5-grams also appear in some OTHER doc's text?
    // Per-doc DISTINCT gram hashes (in-doc repeats collapse at the
    // scan), then the cross-corpus frequency of each gram comes from a
    // count-over-window PARTITIONed on the gram hash — ONE corpus scan
    // and one shuffle keyed on the gram, no groupBy+join-back (the
    // self-join formulation scans the gram stream twice and plans a
    // shuffled join on exactly the same key this window already
    // shuffles on). Second shuffle = the per-doc rollup. Nothing is
    // ever ∝ corpus².
    "q97_dup_ngram_spans" -> ((s, dir) => {
      // ShingleHash, not transform(wordShingles, polyHash): the lambda
      // formulation re-evaluates the tokenizer once PER SHINGLE (~26×
      // per doc — measured 8.2× at the 10× scale run); the codegen
      // expression tokenizes once and hashes shingles straight off the
      // token array (equivalence pinned by ShingleHashSpec)
      val grams = docs(s, dir).select(col("doc_id"),
        explode(array_distinct(
          graft.functions.ShingleHash(tokens(col("text")), dupN))).as("h"))
      val byGram = Window.partitionBy("h")
      grams.withColumn("nd", count(lit(1)).over(byGram))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup"))
        .select(col("doc_id"), col("n_grams"), col("n_dup"),
          expr("(n_dup * 1000) div n_grams").as("dup_permille"))
        .orderBy("doc_id")
    }),

    // Duplicated-span REMOVAL — acting on the q97 signal (the Lee et
    // al. 2022 exact-substring-dedup step q97 only measures): drop
    // every token covered by a 5-gram that also appears in some OTHER
    // document, emit the cleaned text's fingerprint + removal counts.
    // Same scale shape as q97: occurrences compress to one
    // (doc, gram) row (map-side combine) BEFORE the gram-keyed window
    // counts containing docs — never a gram self-join; covered
    // positions then regroup on doc_id and the kept-token reassembly
    // is ONE doc-keyed join (UNHINTED — the covered relation is ∝
    // docs-with-removals, a corpus fraction) plus an in-projection
    // index filter. Nothing is ever ∝ pairs. The gate hashes the full
    // cleaned token sequence, not just counts.
    "q161_dup_span_removal" -> ((s, dir) => {
      val toked = docs(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      val occ = toked.select(col("doc_id"),
        posexplode(graft.functions.ShingleHash(col("toks"), dupN)))
        .select(col("doc_id"), col("pos"), col("col").as("h"))
      val perDoc = occ.groupBy("doc_id", "h")
        .agg(collect_list(col("pos")).as("ps"))
      val byGram = Window.partitionBy("h")
      val covered = perDoc.withColumn("nd", count(lit(1)).over(byGram))
        .where(col("nd") >= 2)
        .select(col("doc_id"), explode(col("ps")).as("p"))
        .select(col("doc_id"),
          explode(sequence(col("p"), col("p") + (dupN - 1))).as("cp"))
        .groupBy("doc_id").agg(collect_set(col("cp")).as("cov"))
      toked.join(covered, Seq("doc_id"), "left")
        .select(col("doc_id"), col("toks"),
          coalesce(col("cov"), array().cast("array<int>")).as("cov"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tok"),
          filter(transform(col("toks"), (t, i) => struct(t.as("t"), i.as("i"))),
            s => !array_contains(col("cov"), s("i"))).as("kept"))
        .select(col("doc_id"), col("n_tok"),
          (col("n_tok") - size(col("kept"))).cast("long").as("n_removed"),
          polyHash(array_join(transform(col("kept"), s => s("t")), " "))
            .as("cleaned_fp"))
        .orderBy("doc_id")
    }),

    // Duplicate-SPAN extent — the large-L face of exact substring
    // dedup (Lee et al. 2022, arXiv:2107.06499, §4: the paper's
    // operative threshold is 50-token spans; q97/q161 only see fixed
    // 5-grams, so a 400-token verbatim duplication and five scattered
    // 5-grams score alike). Anchors are the SAME (doc, pos, gram)
    // relation as q161; cross-doc matches align POSITIONALLY: a
    // shared span between docs A and B is a maximal run of
    // consecutive matched grams on one diagonal (pos_A − pos_B
    // constant), detected with the standard islands device (pos −
    // row_number per (A, B, diagonal)), run of R grams = R+4 shared
    // tokens. Per doc: the longest shared span with ANY partner, the
    // count of spans ≥ L, and the token coverage of those spans — the
    // report that decides whether to run removal at L. Scale shape:
    // the gram-match join is keyed on the gram hash with a
    // df ≤ spanDfCap guard (corpus-frequent "stop grams" cannot
    // anchor alignment — the fan-out cap that keeps match rows ∝
    // true near-duplication, the suffix-array literature's
    // frequency-cutoff analogue; at the fixture's max df 3 the cap
    // never binds, so the gate is unaffected), island detection
    // shuffles on (docA, docB, diagonal) — rows ∝ matched grams,
    // never corpus² — and coverage explodes only tokens inside ≥L
    // spans (∝ the duplication being measured).
    "q276_dup_span_extent" -> ((s, dir) => {
      val (toked, spans) = dupSpanFrames(s, dir)
      val stats = spans.groupBy("doc_id")
        .agg(max(col("span")).as("max_span"),
          sum(when(col("span") >= spanL, 1L).otherwise(0L))
            .as("n_spans_ge_l"))
      val cov = spans.where(col("span") >= spanL)
        .select(col("doc_id"),
          explode(sequence(col("p0"), col("p0") + col("span") - 1))
            .as("cp"))
        .groupBy("doc_id")
        .agg(countDistinct(col("cp")).as("covered_tokens"))
      toked.select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"))
        .join(stats, Seq("doc_id"), "left")
        .join(cov, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
          coalesce(col("max_span"), lit(0L)).as("max_span"),
          coalesce(col("n_spans_ge_l"), lit(0L)).as("n_spans_ge_l"),
          coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"))
        .withColumn("covered_permille",
          expr("covered_tokens * 1000 div n_tok"))
        .orderBy("doc_id")
    }),

    // Long-span REMOVAL — the action face of q276's measurement (Lee
    // et al. 2022, §4: deduplicate exact substrings ≥ 50 tokens,
    // keeping one occurrence). Keep-FIRST at span grain: a token is
    // removed iff it sits inside a ≥L-token span shared with a
    // LOWER-id partner doc, so the lowest-id occurrence of any span
    // always survives (the q172 keep-first convention lifted from
    // chunk grain to maximal spans). Contrast with q161, which
    // removes EVERY duplicated 5-gram from EVERY doc — the blunt
    // instrument; this removes only long verbatim copies and only
    // from the later docs, which is what the paper actually ships.
    // The gate emits q161's artifact shape (n_tok, n_removed, and
    // the cleaned-sequence fingerprint — the hash proves the exact
    // kept token sequence, not just counts). Scale: the span
    // relation is q276's (shared helper — anchors df-capped, islands
    // shuffle ∝ matched grams); the keep-first predicate then
    // FILTERS it (removal-side rows only), coverage explodes only
    // tokens actually removed, and the final rejoin to the doc grain
    // is one unhinted corpus-fraction left join (the q161
    // convention).
    // SymSpell-style spell correction (Garbe's symmetric-delete
    // device, the production spell-correct at vocabulary scale):
    // candidates come from an EQUI-join on shared 1-delete keys —
    // every vocab term indexes itself plus its |term| single-char
    // deletes, every query does the same, and two strings within
    // edit distance 1 MUST share a key (the pigeonhole that replaces
    // scanning the vocabulary with edit distance per query). The
    // exact `levenshtein <= 1` verify then prunes the distance-2
    // pairs a shared delete admits. Query batch: a deterministic
    // typo per long vocab term (drop the char at polyHash(term)
    // mod |term| — both engines derive the identical batch), so the
    // source term is known per query. Per (src, typo): the best
    // correction (highest corpus count, lexical tiebreak) and the
    // candidate count. Scale shape: the delete index explodes
    // |term|+1 keys per DISTINCT term (vocab-bounded, not
    // corpus-bounded); the candidate join is equi on the delete key
    // with fan-out ∝ true near-collisions; the verify is one codegen
    // levenshtein per candidate, never per (query × vocab) pair; the
    // rank window partitions per query term.
    "q280_symspell_correct" -> ((s, dir) =>
      symspellFrom(symspellVocab(docs(s, dir)))),

    // INCREMENTAL SymSpell maintenance — the E124/E148 delta
    // convention on the spell-correction index: the established
    // corpus's term counts are a persisted artifact; a delta doc
    // batch is counted with ONE scan of ITS OWN text (old text never
    // re-read), and the refresh merges the two count relations by
    // SUM on the term key (associativity ⇒ merged ≡ from-scratch);
    // delete keys re-explode only for the merged vocab relation —
    // vocab-bounded, never corpus-bounded. The oracle IS q280's
    // from-scratch twin VERBATIM: incremental ≡ from-scratch,
    // hash-proven (the q163/q186 device applied to the serving
    // dictionary).
    "q286_delta_symspell" -> ((s, dir) => {
      val old = symspellVocab(docs(s, dir).where(!inDelta(col("doc_id"))))
      val delta = symspellVocab(docs(s, dir).where(inDelta(col("doc_id"))))
      val merged = old.unionByName(delta)
        .groupBy("term").agg(sum(col("cnt")).as("cnt"))
      symspellFrom(merged)
    }),

    "q277_long_span_removal" -> ((s, dir) => {
      val (toked, spans) = dupSpanFrames(s, dir)
      val covered = spans
        .where(col("span") >= spanL && col("doc_b") < col("doc_id"))
        .select(col("doc_id"),
          explode(sequence(col("p0"), col("p0") + col("span") - 1))
            .as("cp"))
        .groupBy("doc_id").agg(collect_set(col("cp")).as("cov"))
      toked.join(covered, Seq("doc_id"), "left")
        .select(col("doc_id"), col("toks"),
          coalesce(col("cov"), array().cast("array<long>")).as("cov"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tok"),
          filter(transform(col("toks"),
              (t, i) => struct(t.as("t"), i.cast("long").as("i"))),
            s => !array_contains(col("cov"), s("i"))).as("kept"))
        .select(col("doc_id"), col("n_tok"),
          (col("n_tok") - size(col("kept"))).cast("long").as("n_removed"),
          polyHash(array_join(transform(col("kept"), s => s("t")), " "))
            .as("cleaned_fp"))
        .orderBy("doc_id")
    }),

    // Sharded inverted index: term → sorted doc-id posting list, with
    // the doc space pre-sharded so a posting list NEVER exceeds
    // shardSize entries — a stopword-grade term becomes many bounded
    // (term, shard) rows instead of one reducer-killing list (and a
    // conjunctive query is a per-shard merge, shards in parallel).
    // sort_array pins the in-list order the parallel collect loses.
    "q98_inverted_index" -> ((s, dir) => {
      shardedIndex(docs(s, dir))
        .select(col("term"), col("shard"), col("df_shard"),
          array_join(col("postings"), ",").as("postings"))
        .orderBy("term", "shard")
    }),

    // Incremental inverted-index refresh — q98's index under the
    // q138/q157 delta convention: the established corpus's index is a
    // persisted artifact, the delta batch contributes only ITS OWN
    // postings (one scan of delta text — old text is never re-read),
    // and the refresh is ONE co-keyed (term, shard) regroup over the
    // two index relations (a deployment buckets both on (term, shard)
    // so only the delta index shuffles). Delta doc_ids are disjoint
    // from old ones, so the merged index equals the from-scratch
    // index EXACTLY — and the oracle IS q98's from-scratch twin, the
    // q157 incremental-equals-from-scratch proof applied to the
    // retrieval tier.
    "q163_delta_index" -> ((s, dir) => {
      val d = docs(s, dir)
      val oldIdx = shardedIndex(d.where(!inDelta(col("doc_id"))))
      val deltaIdx = shardedIndex(d.where(inDelta(col("doc_id"))))
      oldIdx.union(deltaIdx)
        .groupBy("term", "shard")
        .agg(sum(col("df_shard")).as("df_shard"),
          array_join(array_sort(flatten(collect_list(col("postings")))), ",")
            .as("postings"))
        .orderBy("term", "shard")
    }),

    // Corpus-LM fluency scoring — the CCNet/perplexity-filter quality
    // signal (Wenzek et al. 2020, public) in EXACT integer arithmetic:
    // a bigram continuation model trained on the corpus itself scores
    // every doc by its mean continuation ratio (c(a,b)·10⁶ div c(a·),
    // where c(a·) counts bigram starts — a log-free perplexity proxy
    // that gates bit-for-bit, which ln-based scores cannot
    // cross-engine). Gibberish/boilerplate scores low, fluent text
    // high. Two scans by design (the q151 calibrate-then-apply shape):
    // one builds the LM — ≤V² rows, broadcast at ANY corpus size since
    // vocab grows ~log(corpus) — one scores with the LM broadcast back;
    // nothing shuffles beyond the per-doc regroup.
    "q198_bigram_fluency" -> ((s, dir) => {
      def bigrams = docs(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .where(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(toks) - 1), " +
            "i -> struct(toks[i-1] AS a, toks[i] AS b))")).as("g"))
        .select(col("doc_id"), col("g.a").as("a"), col("g.b").as("b"))
      val cab = bigrams.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
      // per-start totals as a window over the ALREADY-AGGREGATED
      // (≤V²-row) bigram relation — a separate groupBy("a") would
      // recompute the cab subtree for its second reference (plan-pinned
      // at 4 shuffles in PlanShapeSpec)
      val lm = cab
        .withColumn("c_a", sum(col("c_ab")).over(Window.partitionBy("a")))
        .select(col("a"), col("b"),
          expr(s"c_ab * $fluencyScale div c_a").as("cont_micro"))
      bigrams.join(broadcast(lm), Seq("a", "b"))  // hint audit: vocab-bounded (<= V^2-row bigram LM; vocab ~log corpus)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum(col("cont_micro")).as("sc"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("sc div n_bigrams").as("fluency_micro"))
        .orderBy("doc_id")
    }),

    // RAG-style document chunking: fixed 50-token windows at stride 40
    // (10-token overlap so boundary-straddling content survives whole
    // in one chunk) — the retrieval-serving segmentation between q98's
    // index and an embedding pass. Pure map: one scan, a per-doc
    // bounded explode (⌈(n−overlap)/stride⌉ chunks), chunk content
    // pinned by polyHash so the gate proves exact token spans without
    // shipping text. Provenance (doc_id, chunk_id, start_tok) is what
    // lets retrieval answers cite their source span.
    "q200_doc_chunking" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
        .where(col("n") >= 1)
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0),
            greatest(lit(1),
              expr(s"(n - $chunkOverlap + $chunkStride - 1) div $chunkStride"))
              - 1)).as("c"))
        .select(col("doc_id"), col("c").cast("long").as("chunk_id"),
          (col("c") * chunkStride).cast("long").as("start_tok"),
          slice(col("toks"), col("c") * chunkStride + 1, lit(chunkW)).as("ch"))
        .select(col("doc_id"), col("chunk_id"), col("start_tok"),
          size(col("ch")).cast("long").as("n_tokens"),
          polyHash(concat_ws(" ", col("ch"))).as("chunk_hash"))
        .orderBy("doc_id", "chunk_id")
    }),

    // Postings-compression audit — the storage-planning number for the
    // q98 index: per (term, shard), the Elias-gamma cost of the
    // delta-gapped sorted posting list (gap g costs 2·⌊log2(g+1)⌋+1
    // bits, bit width via length(bin(g+1)) — exact integers in both
    // engines, unlike a log2 double) vs the raw 64-bit layout. Dense
    // stopword-grade postings compress hardest (small gaps), which is
    // exactly what decides codec choice and shard width before anyone
    // ships the index to object storage. Gaps and bit costs fold
    // INSIDE the array (scan-stage HOFs over the already-aggregated
    // (term, shard) relation) — nothing re-explodes.
    "q201_postings_compression" -> ((s, dir) => {
      shardedIndex(docs(s, dir))
        .select(col("term"), col("shard"), col("df_shard"),
          expr("transform(postings, (x, i) -> " +
            "IF(i = 0, x, x - postings[i-1]))").as("gaps"))
        .select(col("term"), col("shard"), col("df_shard"),
          expr("aggregate(gaps, 0L, (acc, g) -> " +
            "acc + 2 * (length(bin(g + 1)) - 1) + 1)").as("gamma_bits"))
        .select(col("term"), col("shard"), col("df_shard"),
          (col("df_shard") * 64L).as("raw_bits"), col("gamma_bits"),
          expr("(df_shard * 64 - gamma_bits) * 1000 div (df_shard * 64)")
            .as("savings_permille"))
        .orderBy("term", "shard")
    }),

    // Vocabulary-drift monitor — the "did my crawl shift?" screen run
    // between an established window and an arriving batch (the
    // E124-family delta convention): per-token permille share in each
    // window and the share delta, biggest movers first. Exact integer
    // permille (a KL term would need cross-engine logs); token keys
    // are vocab-bounded, so at 100 TB this is two scans folding into a
    // ≤V-row frame — the monitor a pipeline checks before retraining
    // its tokenizer or reweighting its mix.
    "q202_vocab_drift" -> ((s, dir) => {
      val tok = docs(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .select(col("token"),
          when(inDelta(col("doc_id")), 1L).otherwise(0L).as("d"))
      val counts = tok.groupBy("token")
        .agg(sum(lit(1L) - col("d")).as("cnt_a"), sum(col("d")).as("cnt_b"))
      // totals over the vocab-bounded aggregate (≤V rows)
      val all = Window.partitionBy()
      counts
        .withColumn("tot_a", sum(col("cnt_a")).over(all))
        .withColumn("tot_b", sum(col("cnt_b")).over(all))
        .select(col("token"), col("cnt_a"), col("cnt_b"),
          expr("cnt_a * 1000 div tot_a").as("share_a_permille"),
          expr("cnt_b * 1000 div tot_b").as("share_b_permille"))
        .withColumn("drift_permille",
          col("share_b_permille") - col("share_a_permille"))
        .orderBy(abs(col("drift_permille")).desc, asc("token"))
    }),

    // Deterministic k-per-stratum sample — the "show me 5 random docs
    // from every source" inspection tool, built for scale: the draw is
    // spreadHash(text) (uniform over [0, P), the q86 KMV device), so
    // the sample is CONSISTENT — a doc's draw never changes as the
    // corpus grows, re-running after ingest keeps the old picks unless
    // a new doc genuinely draws lower (the consistent-sampling
    // property KMV sketches rely on — Broder 1997's min-hash
    // uniformity argument). The bounded-heap TopKPerGroup keeps k rows
    // per (source × partition) BEFORE the shuffle — no global sort, no
    // per-group full sort: the q06/q54 custom operator applied to
    // sampling.
    "q214_group_sample" -> ((s, dir) => {
      val drawn = docs(s, dir)
        .select(col("source"), col("doc_id"),
          spreadHash(col("text")).as("draw"))
      val top = graft.plans.TopK.perGroup(drawn, Seq("source"),
        Seq("draw" -> false, "doc_id" -> false), groupSampleK)
      val w = Window.partitionBy("source").orderBy(asc("draw"), asc("doc_id"))
      top.withColumn("rank", row_number().over(w))
        .orderBy("source", "rank")
    }),

    // POSITIONAL phrase search — the retrieval feature doc-level
    // postings (q98/q110) cannot answer: "these two words ADJACENT",
    // needing term positions in the index. The phrase is the corpus's
    // own most frequent bigram (a bounded value-domain argmax; the
    // 1-row driver fetch is the query literal — the model-artifact
    // convention), and the match is the classic positional-index
    // device: per query term a (doc, pos) posting stream, adjacency
    // rewritten as an EQUI join on (doc, pos+1) = (doc, pos) — no
    // inequality, co-partitioned by doc. At 100 TB: two term-keyed
    // posting fetches + one doc-keyed merge, candidates ∝ the terms'
    // document frequency, never the corpus.
    "q223_phrase_search" -> ((s, dir) => {
      val toksDf = docs(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .where(size(col("toks")) >= 2)
      val top = toksDf
        .select(explode(expr("transform(sequence(1, size(toks) - 1), " +
          "i -> struct(toks[i-1] AS w1, toks[i] AS w2))")).as("b"))
        .groupBy("b.w1", "b.w2").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("w1"), asc("w2")).limit(1).head()
      val (t1, t2) = (top.getString(0), top.getString(1))
      val post = toksDf
        .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "w")))
        .where(col("w") === t1 || col("w") === t2)
      val p1 = post.where(col("w") === t1)
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("nxt"))
      val p2 = post.where(col("w") === t2)
        .select(col("doc_id"), col("pos").cast("long").as("nxt"))
      p1.join(p2, Seq("doc_id", "nxt"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hits"),
          (min(col("nxt")) - 1).as("first_pos"))
        .withColumn("w1", lit(t1)).withColumn("w2", lit(t2))
        .orderBy("doc_id")
    }),

    // Compaction bin-packing planner: group the doc inventory into
    // input-file granules, then assign consecutive files to
    // target-sized output bins via the running-sum rule (a file starts
    // a new bin when its first byte crosses a bin boundary). This is a
    // METADATA-scale operator — at 100 TB it plans over file listings
    // (millions of rows), not data; one window per source partition.
    "q99_compaction_plan" -> ((s, dir) => {
      val files = docs(s, dir)
        .groupBy(col("source"), expr(s"doc_id div $fileGranule").as("file_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"))
      val w = Window.partitionBy("source").orderBy("file_id")
      files.withColumn("cum", sum(col("bytes")).over(w))
        .select(col("source"), col("file_id"), col("n_docs"), col("bytes"),
          expr(s"(cum - bytes) div $targetBytes").as("bin"))
        .orderBy("source", "file_id")
    }),

    // Weighted sampling without replacement (the A-Res priority-key
    // construction of Efraimidis & Spirakis 2006, integer variant):
    // each doc draws a deterministic content-hash key scaled DOWN by
    // its weight (n_chars), and the k smallest keys per language win —
    // longer docs are proportionally likelier, the draw is
    // layout-independent, and exact duplicates share a key. The cut
    // runs through the TopKPerGroup bounded-heap operator (k rows per
    // group per partition cross the shuffle); the oracle is the full
    // row_number window it replaces.
    "q100_weighted_sample" -> ((s, dir) => {
      val d = docs(s, dir)
        .select(col("lang"), col("doc_id"), col("n_chars"),
          spreadHash(col("text")).as("h"))
        .withColumn("prio", expr(s"(h * $wsScale) div (n_chars + 1)"))
        .select("lang", "doc_id", "n_chars", "prio")
      graft.plans.TopK.perGroup(d, Seq("lang"),
        Seq("prio" -> false, "doc_id" -> false), wsK)
        .orderBy("lang", "doc_id")
    }),

    // Exact per-group median via the dense value histogram: shuffle
    // (source, n_chars) COUNTS — rows ∝ distinct values per group, not
    // docs — then pick the lower median where the running count first
    // reaches ⌈n/2⌉. The 100 TB contrast: a sort-based median moves
    // every row; this moves one row per distinct (group, value) pair
    // (bounded by the value domain) and the windows run over that
    // compressed histogram.
    "q101_grouped_median" -> ((s, dir) => {
      val vc = docs(s, dir).groupBy("source", "n_chars")
        .agg(count(lit(1)).as("c"))
      val run = Window.partitionBy("source").orderBy("n_chars")
      val all = Window.partitionBy("source")
      vc.withColumn("cum", sum(col("c")).over(run))
        .withColumn("n", sum(col("c")).over(all))
        .where(col("cum") * 2 >= col("n") && (col("cum") - col("c")) * 2 < col("n"))
        .select(col("source"), col("n"), col("n_chars").as("median_n_chars"))
        .orderBy("source")
    }),

    // Corpus-wide equi-depth histogram: decile boundaries of the doc
    // length distribution, EXACT, without a single-partition global
    // sort — ranks come from the two-phase GlobalIndex (range
    // repartition, all partitions parallel), the total is a one-row
    // broadcast scalar, and decile = (rank·10) div n. The oracle is the
    // one-partition ROW_NUMBER window the two-phase layout replaces.
    // At 100 TB this is how you get exact distribution cut points;
    // q81/q88 are the sketch tier when approximate is enough.
    "q104_equidepth_deciles" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("n_chars"))
      val idx = graft.ext.GlobalIndex.withGlobalIndex(d,
        Seq(col("n_chars").asc, col("doc_id").asc), 32, "idx")
      val tot = d.groupBy().agg(count(lit(1)).as("n"))
      idx.crossJoin(broadcast(tot))  // hint audit: scalar (one-row corpus total)
        .select(col("n_chars"), expr("(idx * 10) div n").as("decile"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"), min(col("n_chars")).as("lo"),
          max(col("n_chars")).as("hi"))
        .orderBy("decile")
    }),

    // Curriculum shard assignment: order the corpus by descending
    // quality (the q22 scoring tree), number it with the two-phase
    // GlobalIndex, and cut consecutive ranks into fixed-size training
    // shards — shard 0 is the highest-quality slice, the tail shards
    // the noisiest (anti-curriculum drops them). Per-shard quality mass
    // is summed in floor-quantized BIGINT micro-units (the q78 rule:
    // never an order-sensitive double reduction across a shuffle).
    "q105_curriculum_shards" -> ((s, dir) => {
      val q = docs(s, dir)
        .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), graft.functions.TextFunctions
          .qualityScoreFromTokens(col("toks"), col("text")).as("quality"))
      val idx = graft.ext.GlobalIndex.withGlobalIndex(q,
        Seq(col("quality").desc, col("doc_id").asc), 32, "idx")
      idx.select(expr(s"idx div $shardDocs").as("shard"), col("idx"),
          floor(col("quality") * dsirScale).cast("long").as("qmicro"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("qmicro")).as("sum_qmicro"),
          min(col("idx")).as("lo_idx"), max(col("idx")).as("hi_idx"))
        .orderBy("shard")
    }),

    // Exact per-group MODE over the same compressed (group, value)
    // histogram as q101: rank the histogram rows per group (count desc,
    // value asc pins ties), keep rank 1. The window runs over rows ∝
    // distinct values per group — never the corpus; mode joins median
    // (q101) and CDF (q108) as the third value-histogram statistic.
    "q121_grouped_mode" -> ((s, dir) => {
      val vc = docs(s, dir).groupBy("source", "n_chars")
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("source")
        .orderBy(desc("c"), asc("n_chars"))
      vc.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("source"), col("n_chars").as("mode_n_chars"),
          col("c").as("n_occurrences"))
        .orderBy("source")
    }),

    // Percentile-rank (CDF) attach: each doc's length percentile within
    // its language, WITHOUT ranking the corpus — the per-(lang, value)
    // histogram is windowed into a CDF (rows ∝ distinct values, q101's
    // compression), broadcast, and the corpus joins it on (lang, value)
    // in the scan stage. The feature-engineering shape at 100 TB: the
    // corpus never shuffles, only the compressed histogram does.
    "q108_percentile_rank" -> ((s, dir) => {
      val hist = docs(s, dir).groupBy("lang", "n_chars")
        .agg(count(lit(1)).as("c"))
      val run = Window.partitionBy("lang").orderBy("n_chars")
      val all = Window.partitionBy("lang")
      val cdf = hist.withColumn("cum", sum(col("c")).over(run))
        .withColumn("n", sum(col("c")).over(all))
        .select(col("lang"), col("n_chars"),
          expr("(cum * 1000) div n").as("pct_permille"))
      docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
        .join(broadcast(cdf), Seq("lang", "n_chars"))  // hint audit: value-domain-bounded (compressed (lang, n_chars) CDF histogram)
        .orderBy("doc_id")
    }),

    // Per-source top-k vocabulary (the Zipf head per group): term
    // counts (one shuffle, map-side partials), then the bounded-heap
    // TopKPerGroup cut — k rows per source per partition cross the
    // second shuffle, vs the window formulation sorting every (source,
    // term) row. The corpus-profiling report a mixture board reads.
    "q109_top_terms" -> ((s, dir) => {
      val tc = docs(s, dir)
        .select(col("source"), explode(tokens(col("text"))).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("n"))
      graft.plans.TopK.perGroup(tc, Seq("source"),
        Seq("n" -> true, "term" -> false), termK)
        .orderBy(col("source"), desc("n"), asc("term"))
    }),

    // Conjunctive retrieval THROUGH the q98 sharded inverted index:
    // docs containing both query terms, answered by per-shard posting
    // intersection (shards in parallel, intersection cost ∝ posting
    // lengths) — while the ORACLE answers the same query by direct
    // corpus scan. Matching results prove index-serving parity, the
    // gate a retrieval layout actually needs. The term filter prunes
    // before the index agg; at scale the index is prebuilt and the
    // query touches |terms|·|shards| rows, never the corpus.
    "q110_index_retrieval" -> ((s, dir) => {
      val post = docs(s, dir)
        .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("term"))
        .where(col("term").isin(qTermA, qTermB))
        .withColumn("shard", expr(s"doc_id div $shardSize"))
        .groupBy("term", "shard")
        .agg(sort_array(collect_list(col("doc_id"))).as("postings"))
      val a = post.where(col("term") === qTermA)
        .select(col("shard"), col("postings").as("pa"))
      val b = post.where(col("term") === qTermB)
        .select(col("shard").as("shard_b"), col("postings").as("pb"))
      a.join(broadcast(b), col("shard") === col("shard_b"))  // hint audit: query-bounded (one probe term's sharded postings, ~ df(qTermB); a stopword-grade term would drop the hint -> shard-keyed shuffle)
        .select(explode(array_intersect(col("pa"), col("pb"))).as("doc_id"))
        .orderBy("doc_id")
    }),

    // Cross-source contamination matrix: for every source pair, how
    // many EXACT-duplicate texts (q25's canonical token-set key — one
    // shared definition) they have in common, plus the pairwise key
    // Jaccard. This is the "is corpus B a re-crawl of corpus A?"
    // screen a mixing decision needs before weighting sources
    // independently. Shape: one (key, source) distinct shuffle, then a
    // key-keyed equi self-join whose per-key fanout is bounded by the
    // SOURCE count (a bounded dimension, not the corpus) — candidates
    // ∝ cross-source duplicate keys, never all-pairs of docs. The
    // per-source key counts are a sources-bounded dim table.
    "q170_source_overlap" -> ((s, dir) => {
      val keys = docs(s, dir)
        .select(canonicalKey(col("text")).as("k"), col("source"))
        .distinct()
      val perSrc = keys.groupBy("source").agg(count(lit(1)).as("n_keys"))
      keys.as("a")
        .join(keys.as("b"),
          col("a.k") === col("b.k") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_shared"))
        .join(broadcast(perSrc.select(col("source").as("src_a"),  // hint audit: source-bounded (per-source key counts, ~ #sources rows)
          col("n_keys").as("keys_a"))), "src_a")
        .join(broadcast(perSrc.select(col("source").as("src_b"),  // hint audit: source-bounded (per-source key counts, ~ #sources rows)
          col("n_keys").as("keys_b"))), "src_b")
        .select(col("src_a"), col("src_b"), col("n_shared"),
          col("keys_a"), col("keys_b"),
          expr("n_shared * 1000 div (keys_a + keys_b - n_shared)")
            .as("jaccard_permille"))
        .orderBy("src_a", "src_b")
    }),

    // Sampling-weight allocation for multi-source training mixes:
    // sqrt-temperature reweighting (the classic multilingual/multi-
    // corpus smoothing — weight ∝ √tokens, so small sources are
    // upsampled relative to their natural share). All arithmetic is
    // exact integer: isqrt(n) = floor(√n) computed as the
    // double-sqrt seed ±1 correction (exact for any BIGINT either
    // engine rounds differently), then permille shares by integer
    // division. Shape: one scan-stage token count + a source-keyed agg
    // (map-side partials into ~#sources keys); the totals window runs
    // over the sources-bounded aggregate, never the corpus.
    "q171_mixture_weights" -> ((s, dir) => {
      val perSrc = docs(s, dir)
        .select(col("source"), size(tokens(col("text"))).cast("long").as("nt"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      val all = Window.partitionBy()
      perSrc.withColumn("isqrt_tokens", isqrtExact(col("n_tokens")))
        .withColumn("tot_tokens", sum(col("n_tokens")).over(all))
        .withColumn("tot_isqrt", sum(col("isqrt_tokens")).over(all))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("isqrt_tokens"),
          expr("n_tokens * 1000 div tot_tokens").as("natural_permille"),
          expr("isqrt_tokens * 1000 div tot_isqrt").as("weight_permille"),
          expr("(isqrt_tokens * 1000 div tot_isqrt) * 1000 div " +
            "(n_tokens * 1000 div tot_tokens)").as("upsample_permille"))
        .orderBy("source")
    }),

    // Negative-sampling table (word2vec's unigram^(3/4) smoothing —
    // Mikolov et al. 2013, public): per-token corpus counts smoothed
    // by weight = floor((n³)^(1/4)) = isqrt(isqrt(n³)) — EXACT in
    // integers via the q171 double-sqrt-seed ±1 correction applied
    // twice, so both engines agree bit-for-bit where a pow(n, 0.75)
    // double would not. Counts saturate at 2^20 before cubing (keeps
    // n³ inside int64 at any corpus size — and frequent-word
    // saturation is itself standard word2vec practice). The table is
    // the top-V head by (count desc, token asc) via
    // TakeOrderedAndProject (bounded, no full sort); share/cumulative
    // permille run over the V-row result — the alias-style sampler
    // boundaries a contrastive trainer draws negatives from. One
    // vocab-bounded shuffle; everything after is V rows.
    "q179_negative_sampling" -> ((s, dir) => {
      val cap = 1L << 20
      val counts = docs(s, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
      val nc = least(col("n"), lit(cap))
      val headV = counts
        .select(col("token"), col("n"),
          isqrtExact(isqrtExact(nc * nc * nc)).as("w"))
        .orderBy(desc("n"), asc("token")).limit(negSampleV)
      val win = Window.partitionBy()
      val cumW = Window.orderBy(desc("n"), asc("token"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      headV
        .withColumn("tot_w", sum(col("w")).over(win))
        .withColumn("cum_w", sum(col("w")).over(cumW))
        .select(col("token"), col("n"), col("w"),
          expr("w * 1000 div tot_w").as("w_permille"),
          expr("cum_w * 1000 div tot_w").as("cum_permille"))
        .orderBy(desc("n"), asc("token"))
    }),

    // Token-budget corpus selection: keep the best documents (quality
    // permille desc, doc_id tiebreak) until the running token total
    // exceeds 40% of the corpus — the data-selection step between
    // scoring (q22/q105) and training: "we can afford B tokens; which
    // docs make the cut?". The running total is the DISTRIBUTED
    // weighted prefix sum (GlobalIndex.withGlobalPrefixSum — range
    // shuffle + per-partition offsets), never a single-partition
    // window: the one formulation of take-while-under-budget that
    // survives 100 TB. Budget is corpus-proportional (SF-invariant
    // semantics); the inclusive-prefix rule (select iff cum ≤ B) makes
    // the cut deterministic on any layout. Output: per-source
    // selection rates — what the budget does to the mix.
    "q175_token_budget" -> ((s, dir) => {
      val scored = docs(s, dir)
        .select(col("doc_id"), col("source"), col("text"),
          tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("source"),
          size(col("toks")).cast("long").as("nt"),
          floor(graft.functions.TextFunctions
            .qualityScoreFromTokens(col("toks"), col("text")) * 1000)
            .cast("long").as("qp"))
      val cum = graft.ext.GlobalIndex.withGlobalPrefixSum(scored,
        Seq(col("qp").desc, col("doc_id").asc), "nt", 32, "cum_tokens")
      val budget = scored.agg(expr("sum(nt) * 2 div 5").as("budget"))
      cum.join(broadcast(budget))  // hint audit: scalar (one-row budget)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("cum_tokens") <= col("budget"), 1L).otherwise(0L))
            .as("n_selected"),
          sum(when(col("cum_tokens") <= col("budget"), col("nt"))
            .otherwise(0L)).as("sel_tokens"),
          min(when(col("cum_tokens") <= col("budget"), col("qp")))
            .as("min_sel_qp"))
        .select(col("source"), col("n_docs"), col("n_selected"),
          col("sel_tokens"), col("min_sel_qp"),
          expr("n_selected * 1000 div n_docs").as("sel_rate_permille"))
        .orderBy("source")
    }))

  def oracle: Map[String, String] = {
    val isTest = PipelineOpsQueries.sqlIsTestDoc("doc_id")
    val isTestTb = PipelineOpsQueries.sqlIsTestDoc("tb.doc_id")
    Map(
      "q223_phrase_search" ->
        s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS toks
           |      FROM documents),
           |bg AS (SELECT toks[CAST(i AS INT)] AS w1,
           |         toks[CAST(i + 1 AS INT)] AS w2
           |       FROM (SELECT toks, unnest(range(1, len(toks))) AS i
           |             FROM tk WHERE len(toks) >= 2)),
           |top AS (SELECT w1, w2 FROM (
           |    SELECT w1, w2,
           |      ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w1, w2) AS rn
           |    FROM bg GROUP BY 1, 2) WHERE rn = 1),
           |ps AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
           |         toks[CAST(i AS INT)] AS w
           |       FROM (SELECT doc_id, toks,
           |               unnest(range(1, len(toks) + 1)) AS i
           |             FROM tk WHERE len(toks) >= 2)),
           |p1 AS (SELECT ps.doc_id, ps.pos + 1 AS nxt
           |       FROM ps, top WHERE ps.w = top.w1),
           |p2 AS (SELECT ps.doc_id, ps.pos AS nxt
           |       FROM ps, top WHERE ps.w = top.w2),
           |h AS (SELECT p1.doc_id, p1.nxt FROM p1 JOIN p2 USING (doc_id, nxt))
           |SELECT h.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
           |  CAST(MIN(h.nxt) - 1 AS BIGINT) AS first_pos,
           |  (SELECT w1 FROM top) AS w1, (SELECT w2 FROM top) AS w2
           |FROM h GROUP BY h.doc_id ORDER BY doc_id""".stripMargin,
      "q214_group_sample" ->
        s"""SELECT source, doc_id, draw, CAST(rank AS INTEGER) AS rank FROM (
           |  SELECT source, doc_id, ${sqlSpreadHash("text")} AS draw,
           |    ROW_NUMBER() OVER (PARTITION BY source
           |      ORDER BY ${sqlSpreadHash("text")}, doc_id) AS rank
           |  FROM documents)
           |WHERE rank <= $groupSampleK ORDER BY source, rank""".stripMargin,
      "q201_postings_compression" ->
        s"""WITH t AS (SELECT DISTINCT doc_id, term
           |      FROM (SELECT doc_id, unnest(${sqlTokens("text")}) AS term
           |            FROM documents)),
           |p AS (SELECT term, doc_id // $shardSize AS shard,
           |        CAST(COUNT(*) AS BIGINT) AS df_shard,
           |        list_sort(list(doc_id)) AS postings
           |      FROM t GROUP BY 1, 2),
           |g AS (SELECT term, shard, df_shard,
           |        list_transform(range(1, len(postings) + 1), i ->
           |          CASE WHEN i = 1 THEN postings[CAST(i AS INT)]
           |               ELSE postings[CAST(i AS INT)]
           |                    - postings[CAST(i - 1 AS INT)] END) AS gaps
           |      FROM p),
           |b AS (SELECT term, shard, df_shard,
           |        CAST(list_sum(list_transform(gaps, g ->
           |          2 * (length(bin(g + 1)) - 1) + 1)) AS BIGINT)
           |          AS gamma_bits
           |      FROM g)
           |SELECT term, shard, df_shard,
           |  CAST(df_shard * 64 AS BIGINT) AS raw_bits, gamma_bits,
           |  CAST((df_shard * 64 - gamma_bits) * 1000
           |    // (df_shard * 64) AS BIGINT) AS savings_permille
           |FROM b ORDER BY term, shard""".stripMargin,
      "q202_vocab_drift" ->
        s"""WITH tok AS (SELECT
           |      CASE WHEN doc_id >= ${ModelOpsQueries.deltaLo}
           |           AND doc_id < ${ModelOpsQueries.deltaHi}
           |        THEN 1 ELSE 0 END AS d,
           |      unnest(${sqlTokens("text")}) AS token
           |    FROM documents),
           |c AS (SELECT token, CAST(SUM(1 - d) AS BIGINT) AS cnt_a,
           |        CAST(SUM(d) AS BIGINT) AS cnt_b
           |      FROM tok GROUP BY 1),
           |t2 AS (SELECT *, CAST(SUM(cnt_a) OVER () AS BIGINT) AS tot_a,
           |        CAST(SUM(cnt_b) OVER () AS BIGINT) AS tot_b FROM c)
           |SELECT token, cnt_a, cnt_b,
           |  CAST(cnt_a * 1000 // tot_a AS BIGINT) AS share_a_permille,
           |  CAST(cnt_b * 1000 // tot_b AS BIGINT) AS share_b_permille,
           |  CAST(cnt_b * 1000 // tot_b - cnt_a * 1000 // tot_a AS BIGINT)
           |    AS drift_permille
           |FROM t2
           |ORDER BY abs(cnt_b * 1000 // tot_b - cnt_a * 1000 // tot_a) DESC,
           |  token""".stripMargin,
      "q198_bigram_fluency" ->
        s"""WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
           |bg AS (SELECT doc_id,
           |    unnest(list_transform(range(1, len(toks)), i ->
           |      struct_pack(a := toks[CAST(i AS INT)],
           |        b := toks[CAST(i + 1 AS INT)]))) AS g
           |  FROM t WHERE len(toks) >= 2),
           |g2 AS (SELECT doc_id, (g).a AS a, (g).b AS b FROM bg),
           |cab AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_ab
           |        FROM g2 GROUP BY 1, 2),
           |ca AS (SELECT a, CAST(SUM(c_ab) AS BIGINT) AS c_a
           |       FROM cab GROUP BY 1),
           |lm AS (SELECT a, b,
           |        CAST(c_ab * $fluencyScale // c_a AS BIGINT) AS cont_micro
           |       FROM cab JOIN ca USING (a))
           |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           |  CAST(SUM(cont_micro) // COUNT(*) AS BIGINT) AS fluency_micro
           |FROM g2 JOIN lm USING (a, b)
           |GROUP BY 1 ORDER BY doc_id""".stripMargin,
      "q200_doc_chunking" ->
        s"""WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS toks,
           |         len(${sqlTokens("text")}) AS n FROM documents),
           |ch AS (SELECT doc_id, toks,
           |    unnest(range(0, greatest(
           |      (n - $chunkOverlap + ${chunkStride - 1}) // $chunkStride, 1)))
           |      AS c
           |  FROM t WHERE n >= 1),
           |sl AS (SELECT doc_id, c,
           |    toks[CAST(c * $chunkStride + 1 AS INT):
           |      CAST(c * $chunkStride + $chunkW AS INT)] AS chunk
           |  FROM ch)
           |SELECT doc_id, CAST(c AS BIGINT) AS chunk_id,
           |  CAST(c * $chunkStride AS BIGINT) AS start_tok,
           |  CAST(len(chunk) AS BIGINT) AS n_tokens,
           |  ${sqlPolyHash("array_to_string(chunk, ' ')")} AS chunk_hash
           |FROM sl ORDER BY doc_id, chunk_id""".stripMargin,
      "q96_importance_weights" ->
        s"""WITH d AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
           |tb AS (SELECT doc_id, ${sqlPolyHash("t")} % $dsirBuckets AS b
           |       FROM (SELECT doc_id, unnest(toks) AS t FROM d)),
           |h AS (SELECT b,
           |        SUM(CASE WHEN $isTest THEN 1 ELSE 0 END) AS tgt,
           |        SUM(CASE WHEN $isTest THEN 0 ELSE 1 END) AS src
           |      FROM tb GROUP BY b),
           |w AS (SELECT b, CAST(((tgt + 1) * $dsirScale) // (src + 1) AS BIGINT) AS wb
           |      FROM h)
           |SELECT tb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
           |  CAST(SUM(wb) AS BIGINT) AS score
           |FROM tb JOIN w ON w.b = tb.b
           |WHERE NOT $isTestTb
           |GROUP BY tb.doc_id ORDER BY tb.doc_id""".stripMargin,
      "q97_dup_ngram_spans" ->
        s"""WITH g AS (SELECT doc_id, unnest(list_distinct(list_transform(
           |        ${sqlWordShingles("text", dupN)}, x -> ${sqlPolyHash("x")}))) AS h
           |      FROM documents),
           |c AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2)
           |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
           |  CAST(SUM(CASE WHEN c.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           |  CAST((SUM(CASE WHEN c.h IS NOT NULL THEN 1 ELSE 0 END) * 1000)
           |    // COUNT(*) AS BIGINT) AS dup_permille
           |FROM g LEFT JOIN c ON c.h = g.h
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // the same dup-gram definition as q97 (>= 2 DISTINCT docs), with
      // 1-based gram positions; covered token = any position inside a
      // dup gram's 5-token span; the cleaned fingerprint re-folds the
      // kept tokens in order
      "q161_dup_span_removal" -> {
        val gram =
          s"array_to_string(toks[CAST(i AS INT):CAST(i + ${dupN - 1} AS INT)], ' ')"
        s"""WITH d AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
           |g AS (SELECT doc_id, i, ${sqlPolyHash(gram)} AS h
           |      FROM (SELECT doc_id, toks,
           |              unnest(range(1, len(toks) - ${dupN - 2})) AS i FROM d)),
           |dd AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM g)
           |       GROUP BY h HAVING COUNT(*) >= 2),
           |cov AS (SELECT DISTINCT g.doc_id, g.i + k.k AS cp
           |        FROM g JOIN dd USING (h)
           |        CROSS JOIN (SELECT unnest(range(0, $dupN)) AS k) k),
           |tok AS (SELECT doc_id, i, toks[CAST(i AS INT)] AS w
           |        FROM (SELECT doc_id, toks,
           |                unnest(range(1, len(toks) + 1)) AS i FROM d)),
           |kept AS (SELECT t.doc_id, t.i, t.w FROM tok t
           |         LEFT JOIN cov ON cov.doc_id = t.doc_id AND cov.cp = t.i
           |         WHERE cov.cp IS NULL),
           |per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
           |          string_agg(w, ' ' ORDER BY i) AS ctext
           |        FROM kept GROUP BY doc_id)
           |SELECT d.doc_id, CAST(len(d.toks) AS BIGINT) AS n_tok,
           |  CAST(len(d.toks) - COALESCE(per.n_kept, 0) AS BIGINT) AS n_removed,
           |  ${sqlPolyHash("COALESCE(per.ctext, '')")} AS cleaned_fp
           |FROM d LEFT JOIN per USING (doc_id)
           |ORDER BY d.doc_id""".stripMargin
      },
      // the same (doc, pos, gram-hash) relation as q161; diagonals
      // and island grouping are base-offset invariant, so the 1-based
      // SQL positions and 0-based Spark positions agree on every
      // emitted count
      "q276_dup_span_extent" -> {
        val gram =
          s"array_to_string(toks[CAST(i AS INT):CAST(i + ${dupN - 1} AS INT)], ' ')"
        s"""WITH d AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
           |g AS (SELECT doc_id, i, ${sqlPolyHash(gram)} AS h
           |      FROM (SELECT doc_id, toks,
           |              unnest(range(1, len(toks) - ${dupN - 2})) AS i FROM d)),
           |gd AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM g)
           |       GROUP BY h HAVING COUNT(*) >= 2 AND COUNT(*) <= $spanDfCap),
           |a AS (SELECT g.doc_id, g.i, g.h FROM g JOIN gd USING (h)),
           |m AS (SELECT a.doc_id, b.doc_id AS doc_b, a.i AS pa,
           |        a.i - b.i AS diag
           |      FROM a JOIN a b ON b.h = a.h AND b.doc_id <> a.doc_id),
           |runs AS (SELECT doc_id, doc_b, diag, pa,
           |        pa - ROW_NUMBER() OVER (PARTITION BY doc_id, doc_b, diag
           |          ORDER BY pa) AS grp
           |      FROM m),
           |sp AS (SELECT doc_id, doc_b, diag, grp,
           |        CAST(COUNT(*) + ${dupN - 1} AS BIGINT) AS span,
           |        MIN(pa) AS p0
           |      FROM runs GROUP BY 1, 2, 3, 4),
           |st AS (SELECT doc_id, CAST(MAX(span) AS BIGINT) AS max_span,
           |        CAST(SUM(CASE WHEN span >= $spanL THEN 1 ELSE 0 END)
           |          AS BIGINT) AS n_spans_ge_l
           |      FROM sp GROUP BY 1),
           |cov AS (SELECT doc_id,
           |        CAST(COUNT(DISTINCT cp) AS BIGINT) AS covered_tokens
           |      FROM (SELECT doc_id, unnest(range(p0, p0 + span)) AS cp
           |            FROM sp WHERE span >= $spanL)
           |      GROUP BY 1)
           |SELECT d.doc_id, CAST(len(d.toks) AS BIGINT) AS n_tok,
           |  CAST(COALESCE(st.max_span, 0) AS BIGINT) AS max_span,
           |  CAST(COALESCE(st.n_spans_ge_l, 0) AS BIGINT) AS n_spans_ge_l,
           |  CAST(COALESCE(cov.covered_tokens, 0) AS BIGINT) AS covered_tokens,
           |  CAST(COALESCE(cov.covered_tokens, 0) * 1000 // len(d.toks)
           |    AS BIGINT) AS covered_permille
           |FROM d LEFT JOIN st USING (doc_id) LEFT JOIN cov USING (doc_id)
           |ORDER BY d.doc_id""".stripMargin
      },
      // the identical symmetric-delete sets (term + its single-char
      // deletes, deduped) and typo derivation on both engines; the
      // levenshtein verify is the same standard distance in both
      "q280_symspell_correct" -> sqlSymspell,
      // the from-scratch twin VERBATIM (the q98↔q163 convention): the
      // SUM-merged delta build must equal the one-scan dictionary
      "q286_delta_symspell" -> sqlSymspell,
      // q276's span CTEs with the keep-first predicate (partner id <
      // mine) pushed into the match — islands partition by (doc,
      // partner, diagonal), so filtering partners before or after run
      // detection yields identical spans — then q161's kept-token
      // fold; 1-based SQL positions vs 0-based Spark positions cancel
      // in every emitted value
      "q277_long_span_removal" -> {
        val gram =
          s"array_to_string(toks[CAST(i AS INT):CAST(i + ${dupN - 1} AS INT)], ' ')"
        s"""WITH d AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
           |g AS (SELECT doc_id, i, ${sqlPolyHash(gram)} AS h
           |      FROM (SELECT doc_id, toks,
           |              unnest(range(1, len(toks) - ${dupN - 2})) AS i FROM d)),
           |gd AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM g)
           |       GROUP BY h HAVING COUNT(*) >= 2 AND COUNT(*) <= $spanDfCap),
           |a AS (SELECT g.doc_id, g.i, g.h FROM g JOIN gd USING (h)),
           |m AS (SELECT a.doc_id, b.doc_id AS doc_b, a.i AS pa,
           |        a.i - b.i AS diag
           |      FROM a JOIN a b ON b.h = a.h AND b.doc_id < a.doc_id),
           |runs AS (SELECT doc_id, doc_b, diag, pa,
           |        pa - ROW_NUMBER() OVER (PARTITION BY doc_id, doc_b, diag
           |          ORDER BY pa) AS grp
           |      FROM m),
           |sp AS (SELECT doc_id, doc_b, diag, grp,
           |        CAST(COUNT(*) + ${dupN - 1} AS BIGINT) AS span,
           |        MIN(pa) AS p0
           |      FROM runs GROUP BY 1, 2, 3, 4),
           |cov AS (SELECT DISTINCT doc_id, cp
           |      FROM (SELECT doc_id, unnest(range(p0, p0 + span)) AS cp
           |            FROM sp WHERE span >= $spanL)),
           |tok AS (SELECT doc_id, i, toks[CAST(i AS INT)] AS w
           |        FROM (SELECT doc_id, toks,
           |                unnest(range(1, len(toks) + 1)) AS i FROM d)),
           |kept AS (SELECT t.doc_id, t.i, t.w FROM tok t
           |         LEFT JOIN cov ON cov.doc_id = t.doc_id AND cov.cp = t.i
           |         WHERE cov.cp IS NULL),
           |per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
           |          string_agg(w, ' ' ORDER BY i) AS ctext
           |        FROM kept GROUP BY doc_id)
           |SELECT d.doc_id, CAST(len(d.toks) AS BIGINT) AS n_tok,
           |  CAST(len(d.toks) - COALESCE(per.n_kept, 0) AS BIGINT) AS n_removed,
           |  ${sqlPolyHash("COALESCE(per.ctext, '')")} AS cleaned_fp
           |FROM d LEFT JOIN per USING (doc_id)
           |ORDER BY d.doc_id""".stripMargin
      },
      "q98_inverted_index" -> fromScratchIndexSql,
      // the from-scratch twin VERBATIM: matching it exactly is the
      // incremental-equals-from-scratch proof (delta doc_ids are
      // disjoint, so the merged postings are the full index's)
      "q163_delta_index" -> fromScratchIndexSql,
      "q99_compaction_plan" ->
        s"""WITH f AS (SELECT source, doc_id // $fileGranule AS file_id,
           |        CAST(COUNT(*) AS BIGINT) AS n_docs,
           |        CAST(SUM(n_chars) AS BIGINT) AS bytes
           |      FROM documents GROUP BY 1, 2),
           |c AS (SELECT source, file_id, n_docs, bytes,
           |        SUM(bytes) OVER (PARTITION BY source ORDER BY file_id) AS cum
           |      FROM f)
           |SELECT source, file_id, n_docs, bytes,
           |  CAST((cum - bytes) // $targetBytes AS BIGINT) AS bin
           |FROM c ORDER BY source, file_id""".stripMargin,
      "q100_weighted_sample" ->
        s"""WITH d AS (SELECT lang, doc_id, n_chars,
           |        CAST((${sqlSpreadHash("text")} * $wsScale) // (n_chars + 1) AS BIGINT)
           |          AS prio
           |      FROM documents),
           |r AS (SELECT lang, doc_id, n_chars, prio,
           |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY prio, doc_id) AS rn
           |      FROM d)
           |SELECT lang, doc_id, n_chars, prio FROM r WHERE rn <= $wsK
           |ORDER BY lang, doc_id""".stripMargin,
      "q101_grouped_median" ->
        s"""WITH vc AS (SELECT source, n_chars, COUNT(*) AS c
           |      FROM documents GROUP BY 1, 2),
           |w AS (SELECT source, n_chars, c,
           |        SUM(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum,
           |        SUM(c) OVER (PARTITION BY source) AS n
           |      FROM vc)
           |SELECT source, CAST(n AS BIGINT) AS n, n_chars AS median_n_chars
           |FROM w WHERE cum * 2 >= n AND (cum - c) * 2 < n
           |ORDER BY source""".stripMargin,
      "q104_equidepth_deciles" ->
        """WITH r AS (SELECT n_chars,
          |        CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1 AS BIGINT)
          |          AS idx,
          |        COUNT(*) OVER () AS n
          |      FROM documents)
          |SELECT (idx * 10) // n AS decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  MIN(n_chars) AS lo, MAX(n_chars) AS hi
          |FROM r GROUP BY 1 ORDER BY decile""".stripMargin,
      "q105_curriculum_shards" ->
        s"""WITH q AS (SELECT doc_id,
           |        ${graft.functions.TextFunctions.sqlQualityScore("text")} AS quality
           |      FROM documents),
           |r AS (SELECT quality,
           |        CAST(ROW_NUMBER() OVER (ORDER BY quality DESC, doc_id) - 1 AS BIGINT)
           |          AS idx
           |      FROM q)
           |SELECT idx // $shardDocs AS shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(CAST(FLOOR(quality * $dsirScale) AS BIGINT)) AS BIGINT)
           |    AS sum_qmicro,
           |  MIN(idx) AS lo_idx, MAX(idx) AS hi_idx
           |FROM r GROUP BY 1 ORDER BY shard""".stripMargin,
      "q121_grouped_mode" ->
        """WITH vc AS (SELECT source, n_chars, COUNT(*) AS c
          |      FROM documents GROUP BY 1, 2),
          |r AS (SELECT source, n_chars, c,
          |        ROW_NUMBER() OVER (PARTITION BY source
          |          ORDER BY c DESC, n_chars) AS rn
          |      FROM vc)
          |SELECT source, n_chars AS mode_n_chars, CAST(c AS BIGINT)
          |  AS n_occurrences
          |FROM r WHERE rn = 1 ORDER BY source""".stripMargin,
      "q108_percentile_rank" ->
        """WITH h AS (SELECT lang, n_chars, COUNT(*) AS c
          |      FROM documents GROUP BY 1, 2),
          |w AS (SELECT lang, n_chars,
          |        SUM(c) OVER (PARTITION BY lang ORDER BY n_chars) AS cum,
          |        SUM(c) OVER (PARTITION BY lang) AS n
          |      FROM h)
          |SELECT d.doc_id, d.lang, d.n_chars,
          |  CAST((w.cum * 1000) // w.n AS BIGINT) AS pct_permille
          |FROM documents d JOIN w ON w.lang = d.lang AND w.n_chars = d.n_chars
          |ORDER BY d.doc_id""".stripMargin,
      "q109_top_terms" ->
        s"""WITH tc AS (SELECT source, term, COUNT(*) AS n
           |      FROM (SELECT source, unnest(${sqlTokens("text")}) AS term
           |            FROM documents)
           |      GROUP BY 1, 2),
           |r AS (SELECT source, term, n,
           |        ROW_NUMBER() OVER (PARTITION BY source
           |          ORDER BY n DESC, term) AS rn
           |      FROM tc)
           |SELECT source, term, n FROM r WHERE rn <= $termK
           |ORDER BY source, n DESC, term""".stripMargin,
      // the oracle answers by DIRECT SCAN — matching the index-path
      // result is the parity gate
      "q110_index_retrieval" ->
        s"""SELECT doc_id FROM documents
           |WHERE list_contains(${sqlTokens("text")}, '$qTermA')
           |  AND list_contains(${sqlTokens("text")}, '$qTermB')
           |ORDER BY doc_id""".stripMargin,
      "q170_source_overlap" ->
        s"""WITH k AS (SELECT DISTINCT ${sqlCanonicalKey("text")} AS k, source
           |      FROM documents),
           |c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_keys
           |      FROM k GROUP BY 1),
           |p AS (SELECT a.source AS src_a, b.source AS src_b,
           |        CAST(COUNT(*) AS BIGINT) AS n_shared
           |      FROM k a JOIN k b ON a.k = b.k AND a.source < b.source
           |      GROUP BY 1, 2)
           |SELECT p.src_a, p.src_b, p.n_shared,
           |  ca.n_keys AS keys_a, cb.n_keys AS keys_b,
           |  p.n_shared * 1000 // (ca.n_keys + cb.n_keys - p.n_shared)
           |    AS jaccard_permille
           |FROM p JOIN c ca ON ca.source = p.src_a
           |       JOIN c cb ON cb.source = p.src_b
           |ORDER BY src_a, src_b""".stripMargin,
      "q171_mixture_weights" ->
        s"""WITH a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |        CAST(SUM(len(${sqlTokens("text")})) AS BIGINT) AS n_tokens
           |      FROM documents GROUP BY 1),
           |i AS (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)
           |        AS seed FROM a),
           |s AS (SELECT source, n_docs, n_tokens,
           |        CASE WHEN (seed + 1) * (seed + 1) <= n_tokens THEN seed + 1
           |             WHEN seed * seed > n_tokens THEN seed - 1
           |             ELSE seed END AS isqrt_tokens
           |      FROM i),
           |t AS (SELECT *, SUM(n_tokens) OVER () AS tot_tokens,
           |        SUM(isqrt_tokens) OVER () AS tot_isqrt FROM s)
           |SELECT source, n_docs, n_tokens, isqrt_tokens,
           |  CAST(n_tokens * 1000 // tot_tokens AS BIGINT) AS natural_permille,
           |  CAST(isqrt_tokens * 1000 // tot_isqrt AS BIGINT) AS weight_permille,
           |  CAST((isqrt_tokens * 1000 // tot_isqrt) * 1000
           |    // (n_tokens * 1000 // tot_tokens) AS BIGINT) AS upsample_permille
           |FROM t ORDER BY source""".stripMargin,

      "q179_negative_sampling" -> {
        def sqlIsq(x: String, seed: String) =
          s"""CASE WHEN ($seed + 1) * ($seed + 1) <= $x THEN $seed + 1
             |     WHEN $seed * $seed > $x THEN $seed - 1
             |     ELSE $seed END""".stripMargin
        s"""WITH t AS (SELECT unnest(${sqlTokens("text")}) AS token
           |      FROM documents),
           |u AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM t
           |      GROUP BY 1),
           |h AS (SELECT token, n, least(n, ${1L << 20}) AS nc FROM u
           |      ORDER BY n DESC, token LIMIT 32),
           |a AS (SELECT token, n, nc * nc * nc AS x,
           |        CAST(floor(sqrt(CAST(nc * nc * nc AS DOUBLE))) AS BIGINT)
           |          AS s1
           |      FROM h),
           |b AS (SELECT token, n, ${sqlIsq("x", "s1")} AS y FROM a),
           |c AS (SELECT token, n, y,
           |        CAST(floor(sqrt(CAST(y AS DOUBLE))) AS BIGINT) AS s2
           |      FROM b),
           |d AS (SELECT token, n, ${sqlIsq("y", "s2")} AS w FROM c)
           |SELECT token, n, w,
           |  CAST(w * 1000 // SUM(w) OVER () AS BIGINT) AS w_permille,
           |  CAST(SUM(w) OVER (ORDER BY n DESC, token
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000
           |    // SUM(w) OVER () AS BIGINT) AS cum_permille
           |FROM d ORDER BY n DESC, token""".stripMargin
      },
      "q175_token_budget" -> {
        val toks = sqlTokens("text")
        val q = graft.functions.TextFunctions.sqlQualityScore("text")
        s"""WITH d AS (SELECT doc_id, source,
           |        CAST(len($toks) AS BIGINT) AS nt,
           |        CAST(floor(($q) * 1000) AS BIGINT) AS qp
           |      FROM documents),
           |c AS (SELECT *, CAST(SUM(nt) OVER (ORDER BY qp DESC, doc_id
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |        AS BIGINT) AS cum_tokens,
           |      CAST(SUM(nt) OVER () * 2 // 5 AS BIGINT) AS budget
           |      FROM d)
           |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(CASE WHEN cum_tokens <= budget THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_selected,
           |  CAST(SUM(CASE WHEN cum_tokens <= budget THEN nt ELSE 0 END)
           |    AS BIGINT) AS sel_tokens,
           |  CAST(MIN(CASE WHEN cum_tokens <= budget THEN qp END)
           |    AS BIGINT) AS min_sel_qp,
           |  CAST(SUM(CASE WHEN cum_tokens <= budget THEN 1 ELSE 0 END)
           |    * 1000 // COUNT(*) AS BIGINT) AS sel_rate_permille
           |FROM c GROUP BY source ORDER BY source""".stripMargin
      })
  }
}
