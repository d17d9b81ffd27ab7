package graft.queries

import ModelOpsQueries.inDelta
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication family over `documents` — the four standard shapes of a
  * large-scale training-data pipeline:
  *
  *  - q25 exact:       hash-groupBy on a canonical form (one shuffle)
  *  - q26 n-gram:      exact Jaccard via shingle-inverted-index join,
  *                     bounded to a slice (the exact path is quadratic —
  *                     at scale you run q27 instead)
  *  - q27 MinHash+LSH: signature → band → bucket-join candidates →
  *                     signature-estimate filter; candidates ∝ true
  *                     near-dups, not ∝ pairs — the 100 TB path
  *  - q28 SimHash:     bit-signature + pigeonhole chunk join (complete
  *                     for hamming <= 3), again no all-pairs stage
  *
  * All built-in expressions; DuckDB twins generated from the same
  * constants in [[graft.functions.TextFunctions]].
  */
object DedupQueries extends graft.QueryFamily {

  private val jaccardThreshold = 0.40
  private val minhashEstThreshold = 0.375 // 6 of 16 signature positions
  /** q102: a pair is a containment hit when ≥80% of EITHER side's
    * distinct shingles appear in the other (integer permille).
    */
  private val containmentTau = 800L

  /** q116 token-set Jaccard threshold (high: the planted rewrites and
    * their neighbors qualify, the vocab-dense bulk mostly doesn't).
    */
  private val ssjTau = 0.8

  /** q172 chunk width (tokens): the keep-first dedup granule — wide
    * enough that a repeat is copied text, small enough that partial
    * overlap still dedups chunk-aligned regions.
    */
  private val chunkDedupW = 8

  /** doc_id → distinct shingle-hash array in ONE narrow projection:
    * [[graft.functions.ShingleHash]] hashes shingles straight off the
    * token array (no per-shingle string allocation, tokenizer runs once
    * per doc). Signature building on top stays a pure map stage.
    */
  private def hashArrays(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), array_distinct(
        graft.functions.ShingleHash(tokens(col("text")), 3)).as("hs"))

  private def sqlDocHashes: String =
    s"hashes AS (SELECT doc_id, ${sqlShingleHashes("text")} AS hs FROM documents)"

  /** q27's LSH candidate pipeline, shared with q64's clustering.
    * The whole signature is ONE codegen'd map pass (MinHashSig) — no
    * explode, no groupBy shuffle; cached (5k rows × 16 longs) so the
    * band self-join doesn't recompute the chain per side. Bands stay
    * NARROW (4 longs/row): signatures rejoin AFTER the pair distinct,
    * so the band self-join and the dedup shuffle never carry the
    * 16-long arrays — at scale the candidate distinct is the wide
    * shuffle and its row width matters.
    */
  /** Last cached signature DF: Bench invokes each query 3× and Verify
    * once per query name, so without an unpersist path the `.cache()`
    * entries accumulate in storage memory across a session and skew
    * later timings. The cache must outlive this method (the returned
    * DF is lazy — the consumer executes it later), so each call
    * unpersists the PREVIOUS invocation's entry instead: at most one
    * generation is ever live (`CacheSlot`).
    */
  private val lastSig = new graft.util.CacheSlot
  private val lastSh = new graft.util.CacheSlot

  /** Public: the CurationPipeline reuses the candidate generator. */
  def lshCandidates(s: SparkSession, dir: String): DataFrame = {
    val sig = lastSig.swap(hashArrays(s, dir)
      .select(col("doc_id"),
        graft.functions.MinHashSig(col("hs")).as("sig"))
      .where(col("sig").isNotNull)
      .cache())
    val bandStructs = (0 until minhashBands).map { b =>
      struct(lit(b).as("band"),
        element_at(col("sig"), b * minhashBandRows + 1).as("h1"),
        element_at(col("sig"), b * minhashBandRows + 2).as("h2"))
    }
    val bands = sig.select(col("doc_id"),
      explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.h1"), col("bk.h2"))
    val pairs = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.h1") === col("b.h1") &&
          col("a.h2") === col("b.h2") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // signature rejoins UNHINTED (the q114/q152 rule): the signature
    // table is one row per doc — corpus-scaled — so a pinned
    // broadcast() would OOM the driver at 100 TB. Size stats (or AQE
    // at runtime) broadcast it at gate scale; at production the
    // rejoin is a doc_id-keyed shuffle equi-join with volume ∝
    // candidates + one signature pass — which is what the narrow-band
    // design already assumed
    pairs
      .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sa")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y),
          b => b)).cast("double") / minhashK).as("est_sim"))
      .where(col("est_sim") >= minhashEstThreshold)
  }

  /** Connected-component labels over an undirected pair list
    * (`doc_a`, `doc_b`) by LARGE-STAR / SMALL-STAR alternation
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014 — public): each round hooks whole subtrees directly
    * under smaller ids, so the round count is O(log²) in component
    * size and INDEPENDENT of the graph diameter — where min-label
    * propagation needs diameter-many rounds (a 10⁶-node chain-shaped
    * dup cluster would take 10⁶ shuffles; this takes ~20). Each round
    * is two groupBy-join phases, hash-partitioned on the node id;
    * nothing ever materializes a component on one executor. Isolated
    * nodes (absent from the pair list) are not emitted.
    *
    * Every round's edge set is `localCheckpoint`ed (eager): the loop
    * re-references each generation for the fixpoint compare, and
    * without lineage truncation the logical plan doubles per round —
    * 2^rounds tree nodes (a ~10-round run OOMed building the explain
    * string under plain cache()). The per-round blocks are freed by
    * the ContextCleaner once the loop drops its reference.
    *
    * @return (node, label) — label = min doc_id of the component
    */
  def componentLabels(pairs: DataFrame): DataFrame =
    componentLabelsWithRounds(pairs)._1

  /** [[componentLabels]] plus the number of large+small-star rounds it
    * took to converge — the spec surface for the log-bound guarantee.
    */
  def componentLabelsWithRounds(pairs: DataFrame): (DataFrame, Int) = {
    // canonical DESCENDING edges (a > b); self-pairs dropped
    var e = pairs.select(
        greatest(col("doc_a"), col("doc_b")).as("a"),
        least(col("doc_a"), col("doc_b")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    // One-action edge-set fingerprint (count + three independent sums):
    // the per-round convergence PROBE. Equal fingerprints only gate the
    // exact set-equality confirm (count + one-sided except), so a
    // fingerprint collision costs one extra comparison, never a wrong
    // answer — and all non-final rounds pay a single aggregate action
    // instead of a count plus a set-difference shuffle.
    def fingerprint(df: DataFrame): org.apache.spark.sql.Row =
      df.agg(count(lit(1)), sum(col("a")), sum(col("b")),
        sum(col("a") * 1000003L + col("b"))).head()
    var fpPrev = fingerprint(e)
    var rounds = 0
    var done = e.isEmpty
    while (!done) {
      // LARGE-STAR: per center u over the undirected neighborhood,
      // connect every strictly larger neighbor to m = min(N(u) ∪ {u}).
      // Every edge is seen from its smaller endpoint's center, so no
      // edge's connectivity is lost; output edges all descend (v > m).
      val nb = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      val mins = nb.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val ls = nb.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .distinct()
      // SMALL-STAR on the descending edges: per center a with smaller
      // neighbors N = {b…}, m = min(N); connect N ∪ {a} minus m to m.
      val sMins = ls.groupBy("a").agg(min(col("b")).as("m"))
      val ss = ls.join(sMins, "a")
        .select(col("b").as("x"), col("m"))
        .union(sMins.select(col("a").as("x"), col("m")))
        .where(col("x") =!= col("m"))
        .select(col("x").as("a"), col("m").as("b"))
        .distinct()
        .localCheckpoint()
      rounds += 1
      // probe with the fingerprint; confirm equality exactly
      val fpNext = fingerprint(ss)
      done = fpNext == fpPrev && ss.except(e).isEmpty
      fpPrev = fpNext
      e = ss
    }
    // converged: a star forest rooted at component minima — labels are
    // the edges themselves plus one self-label per root
    val labels = e.select(col("a").as("node"), col("b").as("label"))
      .union(e.select(col("b").as("node"), col("b").as("label")).distinct())
    (labels, rounds)
  }

  /** Incremental connected components — the daily-batch refresh that
    * closes the gap q138 leaves: q138 absorbs a delta's PAIRS against
    * the banded index, but re-deriving cluster labels from scratch
    * (q64) re-walks the whole corpus graph. Instead, seed the
    * star-alternation with yesterday's LABELS — a star forest is
    * depth-1 by construction, so prior components contribute edges
    * that are already converged, and the rounds the loop actually
    * runs are bounded by the merge depth the DELTA induces (how many
    * prior components a delta chain stitches together), never by the
    * prior corpus's size or shape. A delta that touches nothing
    * terminates in one confirm round; a delta merging k prior
    * components costs O(log² k). Labels are component minima, so the
    * incremental fixpoint is bit-identical to a from-scratch run over
    * (old edges ∪ delta edges) — which is exactly what the q157 oracle
    * checks with its recursive-CTE closure.
    *
    * @param priorLabels (node, label) — the persisted star forest
    * @param deltaPairs  (doc_a, doc_b) — the new batch's edges
    */
  def incrementalComponentLabelsWithRounds(priorLabels: DataFrame,
      deltaPairs: DataFrame): (DataFrame, Int) =
    componentLabelsWithRounds(
      priorLabels.select(col("node").as("doc_a"), col("label").as("doc_b"))
        .union(deltaPairs.select(col("doc_a"), col("doc_b"))))

  /** q224: a token is a chunk boundary when its spread hash ≡ 0 mod
    * this (expected chunk length = cdcMod tokens).
    */
  private val cdcMod = 8L

  /** Content-defined chunking over a (doc_id, toks) frame → one row
    * per (doc_id, chunk) with length and order-sensitive fingerprint.
    * Boundaries are a function of CONTENT (a token's spread hash), not
    * position — the rsync/LBFS device (Muthitacharoen et al., SOSP
    * 2001, public): an insertion re-fingerprints only the chunks it
    * touches, where fixed-window chunking (q172) shifts every chunk
    * after the edit. CdcSpec pins exactly that shift-resistance.
    * `private[graft]` for the spec.
    */
  private[graft] def cdcChunks(toked: DataFrame): DataFrame = {
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Long.MinValue, 0)
    toked
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "w")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        spreadHash(col("w")).as("th"))
      .withColumn("b", when(col("th") % cdcMod === 0, 1L).otherwise(0L))
      .withColumn("chunk", sum(col("b")).over(wDoc) - col("b"))
      .groupBy("doc_id", "chunk")
      .agg(count(lit(1)).as("clen"),
        aggregate(
          expr("transform(array_sort(collect_list(struct(pos, th)))," +
            " x -> x.th)"),
          lit(0L), (h, c) => (h * 31 + c) % P).as("fp"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // CONTENT-DEFINED chunking dedup — the shift-resistant face of
    // q172's fixed-window chunk dedup: boundaries fall where token
    // content says (spread hash ≡ 0 mod cdcMod), so shared passages
    // between docs produce IDENTICAL chunk fingerprints even when
    // their positions differ (a prefix insertion leaves every chunk
    // past the first boundary intact — the property fixed windows
    // cannot have, pinned by CdcSpec). One doc-keyed window assigns
    // chunk ids, one ordered fold fingerprints each chunk, and the
    // duplicate report is a chunk-fingerprint-keyed agg — nothing ∝
    // pairs at any scale.
    "q224_cdc_chunks" -> ((s, dir) => {
      val chunks = cdcChunks(Tables(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("toks")))
      chunks.groupBy("fp")
        .agg(count(lit(1)).as("n_occ"),
          countDistinct(col("doc_id")).as("n_docs"),
          max(col("clen")).as("chunk_len"),
          min(struct(col("doc_id"), col("chunk"))).as("first"))
        .where(col("n_occ") >= 2)
        .select(col("fp"), col("n_occ"), col("n_docs"), col("chunk_len"),
          col("first.doc_id").as("first_doc"),
          col("first.chunk").as("first_chunk"))
        .orderBy("fp")
    }),
    // exact dedup on the canonical token-set form: single hash shuffle,
    // map-side partial agg; representative = min doc_id
    "q25_dedup_exact" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(canonicalKey(col("text")).as("canon_key"), col("doc_id"))
        .groupBy("canon_key")
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("rep_doc"),
          max(col("doc_id")).as("last_doc"))
        .where(col("n_docs") > 1)
        .orderBy("canon_key")
    }),

    // C4-style keep-first chunk dedup: the corpus is cut into
    // non-overlapping token chunks, and every chunk that already
    // occurred EARLIER in the global (doc_id, chunk_no) order is
    // dropped — first occurrence wins, later copies vanish (the
    // line-dedup acting step of C4/RefinedWeb, at chunk granularity;
    // q161 is the complementary drop-ALL-copies rule for n-gram
    // spans). Shape: one chunk-hash shuffle; per-hash state is the
    // occurrence list of THAT chunk (∝ its duplication, never pairs);
    // the min-struct keeper needs no per-key sort; reassembly regroups
    // on doc_id. The (doc_id, chunk_no) total order makes the result
    // layout-independent — identical on any cluster.
    "q172_chunk_dedup_keepfirst" -> ((s, dir) => {
      val w = chunkDedupW
      val nChunks = expr(s"(size(toks) + ${w - 1}) div $w")
      val toked = Tables(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      val chunks = toked.select(col("doc_id"),
        posexplode(when(size(col("toks")) > 0, transform(
          sequence(lit(0), nChunks.cast("int") - 1),
          c => concat_ws(" ", slice(col("toks"), c * w + 1, lit(w)))))
          .otherwise(array().cast("array<string>")))
          .as(Seq("cno", "ctext")))
      val byH = org.apache.spark.sql.expressions.Window.partitionBy("h")
      val kept = chunks
        .select(col("doc_id"), col("cno"), col("ctext"),
          polyHash(col("ctext")).as("h"))
        .withColumn("keeper",
          min(struct(col("doc_id"), col("cno"))).over(byH))
        .where(col("keeper") === struct(col("doc_id"), col("cno")))
      val perDoc = kept.groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          array_join(transform(
            array_sort(collect_list(struct(col("cno"), col("ctext")))),
            st => st("ctext")), " ").as("cleaned"))
      toked
        .select(col("doc_id"), nChunks.cast("long").as("n_chunks"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chunks"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          polyHash(coalesce(col("cleaned"), lit(""))).as("cleaned_fp"))
        .orderBy("doc_id")
    }),

    // exact character-4-gram Jaccard >= 0.40 over the doc_id % 5 slice
    // (the exact-verification tier; LSH is the candidate generator at
    // scale)
    "q26_ngram_jaccard" -> ((s, dir) => {
      // Gram sets as SORTED HASH ARRAYS (one CharGramHashes pass; the
      // oracle hashes its grams with the same polynomial, so any
      // collision is shared by both engines), then a broadcast
      // nested-loop pair scan with a fused two-pointer intersection.
      // An inverted-index gram join degenerates here: common grams hit
      // every doc, so its join intermediate is Σ df² ≈ 19M rows for
      // this 500-doc slice. The pair scan does 125k codegen'd merges
      // with NO shuffle — and SortedIntersectCount is the same verify
      // kernel an LSH candidate join (q27) applies at cluster scale.
      val docs = Tables(s, dir, "documents")
        .where(col("doc_id") % 5 === 0 && col("doc_id") < 2500)
        .select(col("doc_id"), array_sort(array_distinct(
          graft.functions.CharGramHashes(lower(col("text")), 4))).as("hs"))
        // gram-less docs (text < 4 chars) can't pair: dropping them up
        // front matches the oracle (they never enter its grams
        // relation) and keeps the Jaccard denominator non-zero — an
        // (empty, empty) pair would DIVIDE_BY_ZERO under Spark's
        // default ANSI mode
        .where(size(col("hs")) > 0)
      // spread the probe side over the executors — the tiny slice reads
      // as one input split, which would serialize the whole pair scan
      // onto a single task
      val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
      val pairs = docs.repartition(nPart, col("doc_id")).as("a")
        .join(broadcast(docs.as("b")), col("a.doc_id") < col("b.doc_id"))  // hint audit: gate-scale pair tier, bounded 500-doc slice by construction (production path = q27 LSH)
      val i = graft.functions.SortedIntersectCount(col("a.hs"), col("b.hs"))
      pairs
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          (i.cast("double") /
            (size(col("a.hs")) + size(col("b.hs")) - i).cast("double")).as("jaccard"))
        .where(col("jaccard") >= jaccardThreshold)
        .orderBy("doc_a", "doc_b")
    }),

    // MinHash calibration curve — "measure, don't guess" for the dedup
    // sketch (q131's theme applied to the OTHER index): over the q26
    // bounded pair slice, the 16-position signature match count of
    // every pair vs its EXACT shingle-set Jaccard, rolled up per match
    // count. The table that tells you what est_sim >= 0.5 actually
    // MEANS in true-Jaccard terms before you trust q27's threshold at
    // 100 TB. Pair scan is the q26 broadcast shape (bounded slice, no
    // shuffle); the rollup is <= 17 rows; all output arithmetic is
    // integer permille.
    "q132_sketch_calibration" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .where(col("doc_id") % 5 === 0 && col("doc_id") < 2500)
        .select(col("doc_id"), array_sort(array_distinct(
          graft.functions.ShingleHash(tokens(col("text")), 3))).as("hs"))
        .where(size(col("hs")) > 0)
        .select(col("doc_id"), col("hs"),
          graft.functions.MinHashSig(col("hs")).as("sig"))
      val nPart = s.conf.get("spark.sql.shuffle.partitions").toInt
      val pairs = d.repartition(nPart, col("doc_id")).as("a")
        .join(broadcast(d.as("b")), col("a.doc_id") < col("b.doc_id"))  // hint audit: gate-scale pair tier, q26's bounded slice (calibration samples at any scale)
      val inter = graft.functions.SortedIntersectCount(col("a.hs"), col("b.hs"))
      val nMatch = size(filter(
        zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y), b => b))
      pairs
        .select(nMatch.as("n_match"), inter.cast("long").as("i"),
          size(col("a.hs")).cast("long").as("na"),
          size(col("b.hs")).cast("long").as("nb"))
        .selectExpr("n_match", "i * 1000 div (na + nb - i) AS tp")
        .groupBy("n_match")
        .agg(count(lit(1)).as("n_pairs"), sum(col("tp")).as("stp"))
        .selectExpr("n_match", s"n_match * 1000 div $minhashK AS est_permille",
          "n_pairs", "stp div n_pairs AS mean_true_permille")
        .orderBy("n_match")
    }),

    // MinHash signatures + banded LSH: only docs colliding in a band
    // ever meet; est_sim from the signatures (no raw-text re-read)
    "q27_minhash_lsh" -> ((s, dir) =>
      lshCandidates(s, dir).orderBy("doc_a", "doc_b")),

    // near-dup CLUSTERS: connected components over the q27 candidate
    // graph via large-star/small-star alternation (componentLabels —
    // see its scaladoc): each round hooks whole subtrees directly
    // under smaller ids, so convergence is O(log²) in component size
    // regardless of graph shape. This is the step between "candidate
    // pairs" and "keep one representative per dup group": at 100 TB the
    // edge list is ∝ near-dups, every round is hash-partitioned on the
    // node id, and nothing ever materializes a component on one
    // executor. The oracle computes the same labels as a recursive-CTE
    // transitive closure.
    "q64_dedup_clusters" -> ((s, dir) => {
      val pairs = lshCandidates(s, dir).select(col("doc_a"), col("doc_b"))
      componentLabels(pairs)
        .groupBy(col("label").as("cluster_rep"))
        .agg(count(lit(1)).as("n_members"), max(col("node")).as("max_doc"))
        .orderBy("cluster_rep")
    }),

    // Incremental CC over the q138 batch convention: the established
    // corpus's pairs (both endpoints outside the [deltaLo, deltaHi)
    // window) are clustered into yesterday's star forest, then the
    // delta's pairs (≥1 endpoint inside the window) merge into it via
    // the SEEDED star-alternation — rounds ∝ the merge depth the delta
    // induces, not the corpus (see incrementalComponentLabelsWithRounds;
    // IncrementalCCSpec pins the round bound). Output: the clusters the
    // delta TOUCHED (the rows a daily refresh job rewrites — refresh ∝
    // delta, the q138/q82 philosophy). The oracle's recursive-CTE
    // closure over ALL pairs proves the incremental path is
    // bit-identical to from-scratch.
    "q157_delta_cc" -> ((s, dir) => {
      // materialized once (eager, like the fixpoint's own per-round
      // checkpoints): both fixpoint inputs filter this list, and
      // without it each side re-runs the banded candidate join
      val pairs = lshCandidates(s, dir).select(col("doc_a"), col("doc_b"))
        .localCheckpoint()
      val oldPairs = pairs
        .where(!inDelta(col("doc_a")) && !inDelta(col("doc_b")))
      val deltaPairs = pairs
        .where(inDelta(col("doc_a")) || inDelta(col("doc_b")))
      val prior = componentLabels(oldPairs)
      val (labels, _) =
        incrementalComponentLabelsWithRounds(prior, deltaPairs)
      labels
        .groupBy(col("label").as("cluster_rep"))
        .agg(count(lit(1)).as("n_members"),
          sum(when(inDelta(col("node")), 1L).otherwise(0L))
            .as("n_delta_members"),
          max(col("node")).as("max_doc"))
        .where(col("n_delta_members") > 0)
        .orderBy("cluster_rep")
    }),

    // The KEEP side of near-dup dedup: per q64 cluster, select the one
    // document to retain — argmax by (quality, doc_id), the
    // deterministic "best writing wins, newest id breaks ties" policy a
    // curation pipeline actually materializes (q64 reports the
    // clusters; this decides what survives them). The label frame is ∝
    // docs-in-near-dup-clusters — in web-crawl corpora dup-cluster
    // membership is routinely 30-50% of documents, a corpus FRACTION,
    // not a bounded dimension — so the label join is UNHINTED (the
    // q114/q152 rule: a pinned hint never flips): stats/AQE broadcast
    // it at gate scale, and at production it is a doc_id-keyed shuffle
    // equi-join. The argmax is a max-over-struct — partial-aggregable,
    // one shuffle on the cluster key with map-side combine, no
    // window/sort over members.
    "q150_keep_best" -> ((s, dir) => {
      val labels = componentLabels(
        lshCandidates(s, dir).select(col("doc_a"), col("doc_b")))
      val scored = Tables(s, dir, "documents")
        .select(col("doc_id"), qualityScore(col("text")).as("quality"))
      scored.join(labels, scored("doc_id") === labels("node"))
        .groupBy(col("label").as("cluster_rep"))
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("quality"), col("doc_id"))).as("best"))
        .select(col("cluster_rep"), col("n_members"),
          col("best.doc_id").as("kept_doc"),
          col("best.quality").as("kept_quality"))
        .orderBy("cluster_rep")
    }),

    // SimHash + pigeonhole chunk join: hamming <= 3 over 4 chunks of a
    // 62-bit fingerprint guarantees a shared 16-bit chunk, so the
    // equi-join is a complete candidate generator — never an all-pairs
    // comparison, and wide enough chunk keys that bucket sizes (and so
    // candidate pairs) stay ∝ true near-dups at cluster scale
    "q28_simhash" -> ((s, dir) => {
      // per-bit majority packed by ONE codegen'd map pass (SimHashPack)
      // — no explode, no groupBy shuffle. Cached: one long per doc,
      // shared by both join sides.
      val sh = lastSh.swap(hashArrays(s, dir)
        .select(col("doc_id"),
          graft.functions.SimHashPack(col("hs")).as("sh"))
        .where(col("sh").isNotNull)
        .cache())
      val chunkStructs = (0 until simhashChunks).map { c =>
        struct(lit(c).as("ci"), simhashChunk(col("sh"), c).as("cv"))
      }
      val chunks = sh.select(col("doc_id"), col("sh"),
        explode(array(chunkStructs: _*)).as("ck"))
        .select(col("doc_id"), col("sh"), col("ck.ci"), col("ck.cv"))
      chunks.as("a")
        .join(chunks.as("b"),
          col("a.ci") === col("b.ci") && col("a.cv") === col("b.cv") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.sh").as("sha"), col("b.sh").as("shb"))
        .distinct()
        .select(col("doc_a"), col("doc_b"),
          bit_count(col("sha").bitwiseXOR(col("shb"))).as("hamming"))
        .where(col("hamming") <= simhashMaxHamming)
        .orderBy("doc_a", "doc_b")
    }),

    // Containment screen (Broder 1997's |A∩B|/|A|, the direction-aware
    // companion of resemblance): over the SAME LSH candidate pairs as
    // q27, compute exact shingle containment both ways — catching the
    // "doc B is doc A plus a paragraph" sub-document duplication that a
    // symmetric Jaccard threshold under-scores (small doc inside big doc
    // ⇒ low Jaccard, high containment). Candidate volume ∝ true
    // near-dups (inherited from the banded LSH); the exact verify is the
    // same SortedIntersectCount merge kernel as q26, one codegen'd pass
    // per pair. The hash-array rejoin mirrors q27's signature rejoin
    // and is UNHINTED for the same reason: the per-doc gram-hash table
    // is corpus-scaled, so stats broadcast it at gate scale and at
    // cluster scale both genuinely become doc_id-keyed shuffle
    // equi-joins with volume ∝ candidates (a pinned hint would never
    // flip).
    "q102_containment" -> ((s, dir) => {
      val cands = lshCandidates(s, dir).select("doc_a", "doc_b")
      val hs = hashArrays(s, dir)
        .select(col("doc_id"), array_sort(col("hs")).as("hs"))
      val j = cands
        .join(hs.select(col("doc_id").as("doc_a"), col("hs").as("ha")), "doc_a")
        .join(hs.select(col("doc_id").as("doc_b"), col("hs").as("hb")), "doc_b")
      val i = graft.functions.SortedIntersectCount(col("ha"), col("hb"))
      j.select(col("doc_a"), col("doc_b"), i.cast("long").as("inter"),
          size(col("ha")).cast("long").as("na"), size(col("hb")).cast("long").as("nb"))
        .select(col("doc_a"), col("doc_b"), col("inter"),
          expr("(inter * 1000) div na").as("cont_a_permille"),
          expr("(inter * 1000) div nb").as("cont_b_permille"))
        .where(col("cont_a_permille") >= containmentTau ||
          col("cont_b_permille") >= containmentTau)
        .orderBy("doc_a", "doc_b")
    }),

    // Set-similarity join via PREFIX FILTERING (the SSJoin/PPJoin
    // primitive — Chaudhuri et al. ICDE 2006, Xiao et al. WWW 2008,
    // public): exact token-set Jaccard ≥ τ over the q26 slice, but
    // candidates come from an inverted index over each set's PREFIX
    // (its |s| − ⌈τ·|s|⌉ + 1 globally-RAREST tokens) instead of an
    // all-pairs scan: two sets with Jaccard ≥ τ must share a prefix
    // token under any global order, so the generator is COMPLETE —
    // unlike LSH there is no probabilistic miss, and the gate proves it
    // by comparing against the oracle's full all-pairs formulation.
    // Rare-first ordering makes candidate volume ∝ Σ df(rare tokens)²;
    // the verify is the SortedIntersectCount merge as q26/q102 — over
    // the SORTED TOKEN ARRAYS THEMSELVES (STRING walk), so the exact
    // gate counts string equality with no hash in the verify path. The
    // gate slice is a pure modulo (a constant 20% corpus fraction at
    // any SF), not an absolute doc_id cap — the prefix-filter gate
    // keeps exercising the same fraction as the fixture grows.
    "q116_set_similarity_join" -> ((s, dir) => {
      val base = Tables(s, dir, "documents")
        .where(col("doc_id") % 5 === 0)
        .select(col("doc_id"),
          array_distinct(tokens(col("text"))).as("ts"))
        .where(size(col("ts")) > 0)
      val dfTable = base.select(explode(col("ts")).as("t"))
        .groupBy("t").agg(count(lit(1)).as("df"))
      // per-doc tokens re-sorted rare-first under the global (df, t)
      // order; the prefix is a dynamic-length slice of that order
      val ordered = base.select(col("doc_id"), explode(col("ts")).as("t"))
        .join(broadcast(dfTable), "t")  // hint audit: dimension-bounded (token df table, ~ vocab)
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("df"), col("t")))).as("ots"),
          count(lit(1)).as("sz"))
      val prefLen = (col("sz") - ceil(col("sz") * ssjTau).cast("long") + 1)
        .cast("int")
      val pre = ordered.select(col("doc_id"), col("sz"),
        explode(slice(col("ots"), lit(1), prefLen)).as("p"))
        .select(col("doc_id"), col("sz"), col("p.t").as("t"))
      // LENGTH FILTER (SSJoin's standard companion prune): J >= τ
      // forces |b|/|a| ∈ [τ, 1/τ], so size-incompatible prefix
      // collisions never reach the distinct/verify stages. The bound
      // uses integer milli arithmetic loosened by 1‰ — provably never
      // prunes a pair the (double) final threshold would keep, however
      // τ rounds. This matters most exactly when the prefix filter is
      // weakest (small vocabularies make every prefix token common).
      val tauLoMilli = (ssjTau * 1000).toLong - 1
      val cands = pre.as("a")
        .join(pre.as("b"),
          col("a.t") === col("b.t") && col("a.doc_id") < col("b.doc_id") &&
            col("b.sz") * 1000 >= col("a.sz") * tauLoMilli &&
            col("a.sz") * 1000 >= col("b.sz") * tauLoMilli)
        .select(col("a.doc_id").as("doc_a"), col("a.sz").as("na"),
          col("b.doc_id").as("doc_b"), col("b.sz").as("nb"))
        .distinct()
      val hs = base.select(col("doc_id"),
        array_sort(col("ts")).as("hs"))
      val i = graft.functions.SortedIntersectCount(col("ha"), col("hb"))
      // exact-verify rejoins UNHINTED (the q27/q102/q114/q152 rule): the
      // per-doc sorted-token-array relation is corpus-scaled (here a
      // constant 20% corpus fraction), so a pinned broadcast() would
      // materialize a corpus fraction on the driver at 100 TB. Size
      // stats broadcast it at gate scale; at production both rejoins
      // are doc_id-keyed shuffle equi-joins with volume ∝ candidates —
      // PlanShapeSpec pins both regimes.
      cands
        .join(hs.select(col("doc_id").as("doc_a"), col("hs").as("ha")), "doc_a")
        .join(hs.select(col("doc_id").as("doc_b"), col("hs").as("hb")), "doc_b")
        .select(col("doc_a"), col("doc_b"), i.cast("long").as("inter"),
          (i.cast("double") / (col("na") + col("nb") - i).cast("double"))
            .as("jaccard"))
        .where(col("jaccard") >= ssjTau)
        .orderBy("doc_a", "doc_b")
    }))

  def oracle: Map[String, String] = {
    val sigList = (0 until minhashK).map(k => sqlMinhash("hs", k)).mkString("[", ",\n    ", "]")
    // q27's candidate pipeline as a CTE chain, shared with q64
    val sqlLshEst =
      s"""$sqlDocHashes,
         |sig AS (SELECT doc_id, $sigList AS sig FROM hashes),
         |bands AS (
         |  SELECT doc_id, sig, CAST(i AS INT) AS band,
         |    sig[CAST(${minhashBandRows} * i + 1 AS INT)] AS h1,
         |    sig[CAST(${minhashBandRows} * i + 2 AS INT)] AS h2
         |  FROM sig, range(0, $minhashBands) r(i)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.sig AS sa, b.sig AS sb
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2
         |      AND a.doc_id < b.doc_id),
         |est AS (
         |  SELECT doc_a, doc_b,
         |    CAST(len(list_filter(range(1, ${minhashK + 1}),
         |      i -> sa[CAST(i AS INT)] = sb[CAST(i AS INT)])) AS DOUBLE)
         |      / $minhashK AS est_sim
         |  FROM cand)""".stripMargin
    val chunkArms = (0 until simhashChunks)
      .map(c => s"SELECT doc_id, sh, $c AS ci, ${sqlSimhashChunk("sh", c)} AS cv FROM sh")
      .mkString("\nUNION ALL\n")
    Map(
      "q224_cdc_chunks" -> {
        val th = sqlSpreadHash("toks[CAST(i AS INT)]")
        s"""WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS toks
           |      FROM documents),
           |ps AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
           |         $th AS th
           |       FROM (SELECT doc_id, toks,
           |               unnest(range(1, len(toks) + 1)) AS i FROM tk)),
           |c AS (SELECT doc_id, pos, th,
           |    CASE WHEN th % $cdcMod = 0 THEN 1 ELSE 0 END AS b
           |  FROM ps),
           |cc AS (SELECT doc_id, pos, th,
           |    CAST(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - b
           |      AS BIGINT) AS chunk
           |  FROM c),
           |ch AS (SELECT doc_id, chunk, CAST(COUNT(*) AS BIGINT) AS clen,
           |    list_reduce(list_prepend(CAST(0 AS BIGINT),
           |      list(th ORDER BY pos)),
           |      (h, x) -> (h * 31 + x) % $P) AS fp
           |  FROM cc GROUP BY 1, 2),
           |w1 AS (SELECT fp, doc_id, chunk,
           |    ROW_NUMBER() OVER (PARTITION BY fp
           |      ORDER BY doc_id, chunk) AS rn
           |  FROM ch),
           |g AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS n_occ,
           |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           |    MAX(clen) AS chunk_len
           |  FROM ch GROUP BY fp)
           |SELECT g.fp, g.n_occ, g.n_docs, g.chunk_len,
           |  w1.doc_id AS first_doc, w1.chunk AS first_chunk
           |FROM g JOIN w1 ON w1.fp = g.fp AND w1.rn = 1
           |WHERE g.n_occ >= 2 ORDER BY g.fp""".stripMargin
      },
      "q132_sketch_calibration" ->
        s"""WITH d AS (SELECT doc_id, list_sort(${sqlShingleHashes("text")}) AS hs
           |      FROM documents WHERE doc_id % 5 = 0 AND doc_id < 2500),
           |d2 AS (SELECT doc_id, hs, $sigList AS sig
           |       FROM d WHERE len(hs) > 0),
           |m AS (SELECT
           |    len(list_filter(range(1, ${minhashK + 1}),
           |      i -> a.sig[CAST(i AS INT)] = b.sig[CAST(i AS INT)])) AS n_match,
           |    len(list_intersect(a.hs, b.hs)) AS i,
           |    len(a.hs) AS na, len(b.hs) AS nb
           |  FROM d2 a JOIN d2 b ON a.doc_id < b.doc_id),
           |t AS (SELECT n_match, i * 1000 // (na + nb - i) AS tp FROM m)
           |SELECT n_match, n_match * 1000 // $minhashK AS est_permille,
           |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
           |  CAST(SUM(tp) // COUNT(*) AS BIGINT) AS mean_true_permille
           |FROM t GROUP BY 1 ORDER BY n_match""".stripMargin,
      "q25_dedup_exact" ->
        s"""SELECT canon_key, COUNT(*) AS n_docs,
           |  MIN(doc_id) AS rep_doc, MAX(doc_id) AS last_doc
           |FROM (SELECT ${sqlCanonicalKey("text")} AS canon_key, doc_id
           |      FROM documents)
           |GROUP BY canon_key HAVING COUNT(*) > 1
           |ORDER BY canon_key""".stripMargin,
      "q172_chunk_dedup_keepfirst" -> {
        val w = chunkDedupW
        s"""WITH d AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
           |c AS (SELECT doc_id, c AS cno,
           |        array_to_string(toks[CAST(c * $w + 1 AS INT):
           |          CAST(c * $w + $w AS INT)], ' ') AS ctext
           |      FROM (SELECT doc_id, toks,
           |              unnest(range(0, (len(toks) + ${w - 1}) // $w)) AS c
           |            FROM d)),
           |h AS (SELECT doc_id, cno, ctext, ${sqlPolyHash("ctext")} AS h FROM c),
           |kept AS (SELECT doc_id, cno, ctext FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY h
           |      ORDER BY doc_id, cno) AS rn FROM h) WHERE rn = 1),
           |per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
           |          string_agg(ctext, ' ' ORDER BY cno) AS cleaned
           |        FROM kept GROUP BY doc_id),
           |b AS (SELECT doc_id,
           |        CAST((len(toks) + ${w - 1}) // $w AS BIGINT) AS n_chunks
           |      FROM d)
           |SELECT b.doc_id, b.n_chunks,
           |  CAST(COALESCE(per.n_kept, 0) AS BIGINT) AS n_kept,
           |  ${sqlPolyHash("COALESCE(per.cleaned, '')")} AS cleaned_fp
           |FROM b LEFT JOIN per USING (doc_id)
           |ORDER BY doc_id""".stripMargin
      },
      "q26_ngram_jaccard" ->
        s"""WITH pos AS (
           |  SELECT doc_id, lower(text) AS lt,
           |    unnest(range(1, greatest(length(text) - 2, 1))) AS i
           |  FROM documents
           |  WHERE doc_id % 5 = 0 AND doc_id < 2500),
           |grams AS (
           |  SELECT DISTINCT doc_id,
           |    ${sqlPolyHash("substring(lt, CAST(i AS INT), 4)")} AS g
           |  FROM pos),
           |cnt AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
           |inter AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
           |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2)
           |SELECT doc_a, doc_b, jaccard FROM (
           |  SELECT doc_a, doc_b,
           |    CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) AS jaccard
           |  FROM inter
           |  JOIN cnt ca ON ca.doc_id = doc_a
           |  JOIN cnt cb ON cb.doc_id = doc_b)
           |WHERE jaccard >= $jaccardThreshold
           |ORDER BY doc_a, doc_b""".stripMargin,
      "q27_minhash_lsh" ->
        s"""WITH $sqlLshEst
           |SELECT doc_a, doc_b, est_sim FROM est
           |WHERE est_sim >= $minhashEstThreshold
           |ORDER BY doc_a, doc_b""".stripMargin,
      // exact containment verify over the same candidate CTE; DuckDB's
      // list_intersect on the distinct hash lists = SortedIntersectCount
      "q102_containment" ->
        s"""WITH $sqlLshEst,
           |cpairs AS (SELECT doc_a, doc_b FROM est
           |           WHERE est_sim >= $minhashEstThreshold)
           |SELECT doc_a, doc_b,
           |  CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) AS inter,
           |  CAST((len(list_intersect(a.hs, b.hs)) * 1000) // len(a.hs) AS BIGINT)
           |    AS cont_a_permille,
           |  CAST((len(list_intersect(a.hs, b.hs)) * 1000) // len(b.hs) AS BIGINT)
           |    AS cont_b_permille
           |FROM cpairs p
           |JOIN hashes a ON a.doc_id = p.doc_a
           |JOIN hashes b ON b.doc_id = p.doc_b
           |WHERE (len(list_intersect(a.hs, b.hs)) * 1000) // len(a.hs)
           |        >= $containmentTau
           |   OR (len(list_intersect(a.hs, b.hs)) * 1000) // len(b.hs)
           |        >= $containmentTau
           |ORDER BY doc_a, doc_b""".stripMargin,
      // the ALL-PAIRS formulation the prefix filter replaces — matching
      // it exactly is the completeness proof
      "q116_set_similarity_join" ->
        s"""WITH d AS (SELECT doc_id, list_distinct(${sqlTokens("text")}) AS ts
           |      FROM documents WHERE doc_id % 5 = 0),
           |d2 AS (SELECT doc_id, ts FROM d WHERE len(ts) > 0),
           |t AS (SELECT doc_id, unnest(ts) AS t FROM d2),
           |i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
           |      FROM t a JOIN t b ON a.t = b.t AND a.doc_id < b.doc_id
           |      GROUP BY 1, 2),
           |c AS (SELECT doc_id, len(ts) AS n FROM d2)
           |SELECT doc_a, doc_b, CAST(i AS BIGINT) AS inter,
           |  CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS jaccard
           |FROM i JOIN c ca ON ca.doc_id = doc_a
           |       JOIN c cb ON cb.doc_id = doc_b
           |WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= $ssjTau
           |ORDER BY doc_a, doc_b""".stripMargin,
      // same closure + the per-cluster argmax mirrored as a window
      "q150_keep_best" ->
        s"""WITH RECURSIVE $sqlLshEst,
           |pairs AS (SELECT doc_a, doc_b FROM est
           |          WHERE est_sim >= $minhashEstThreshold),
           |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
           |      UNION SELECT doc_b, doc_a FROM pairs),
           |reach(a, b) AS (
           |  SELECT a, a FROM (SELECT DISTINCT a FROM e)
           |  UNION
           |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
           |labels AS (SELECT a AS node, MIN(b) AS label FROM reach GROUP BY a),
           |q AS (SELECT doc_id, ${sqlQualityScore("text")} AS quality
           |      FROM documents),
           |sel AS (SELECT labels.label, q.doc_id, q.quality,
           |        ROW_NUMBER() OVER (PARTITION BY labels.label
           |          ORDER BY q.quality DESC, q.doc_id DESC) AS rn,
           |        COUNT(*) OVER (PARTITION BY labels.label) AS n_members
           |      FROM labels JOIN q ON q.doc_id = labels.node)
           |SELECT label AS cluster_rep, CAST(n_members AS BIGINT) AS n_members,
           |  doc_id AS kept_doc, quality AS kept_quality
           |FROM sel WHERE rn = 1 ORDER BY cluster_rep""".stripMargin,
      // the from-scratch closure over ALL pairs (old ∪ delta IS the
      // full candidate graph) + the delta-touched rollup: matching it
      // exactly is the incremental-equals-from-scratch proof
      "q157_delta_cc" ->
        s"""WITH RECURSIVE $sqlLshEst,
           |pairs AS (SELECT doc_a, doc_b FROM est
           |          WHERE est_sim >= $minhashEstThreshold),
           |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
           |      UNION SELECT doc_b, doc_a FROM pairs),
           |reach(a, b) AS (
           |  SELECT a, a FROM (SELECT DISTINCT a FROM e)
           |  UNION
           |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
           |labels AS (SELECT a AS node, MIN(b) AS label FROM reach GROUP BY a)
           |SELECT label AS cluster_rep, COUNT(*) AS n_members,
           |  CAST(SUM(CASE WHEN node >= ${ModelOpsQueries.deltaLo}
           |    AND node < ${ModelOpsQueries.deltaHi} THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_delta_members,
           |  MAX(node) AS max_doc
           |FROM labels GROUP BY label
           |HAVING n_delta_members > 0
           |ORDER BY cluster_rep""".stripMargin,
      // transitive closure over the same candidate pairs; label(v) =
      // min reachable doc_id == the propagation fixpoint
      "q64_dedup_clusters" ->
        s"""WITH RECURSIVE $sqlLshEst,
           |pairs AS (SELECT doc_a, doc_b FROM est
           |          WHERE est_sim >= $minhashEstThreshold),
           |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
           |      UNION SELECT doc_b, doc_a FROM pairs),
           |reach(a, b) AS (
           |  SELECT a, a FROM (SELECT DISTINCT a FROM e)
           |  UNION
           |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
           |labels AS (SELECT a AS node, MIN(b) AS label FROM reach GROUP BY a)
           |SELECT label AS cluster_rep, COUNT(*) AS n_members,
           |  MAX(node) AS max_doc
           |FROM labels GROUP BY label ORDER BY cluster_rep""".stripMargin,
      "q28_simhash" ->
        s"""WITH $sqlDocHashes,
           |sh AS (SELECT doc_id, ${sqlSimhash("hs")} AS sh
           |       FROM hashes WHERE len(hs) > 0),
           |chunks AS (
           |$chunkArms),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |    a.sh AS sha, b.sh AS shb
           |  FROM chunks a JOIN chunks b
           |    ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id)
           |SELECT doc_a, doc_b, hamming FROM (
           |  SELECT doc_a, doc_b, bit_count(xor(sha, shb)) AS hamming FROM cand)
           |WHERE hamming <= $simhashMaxHamming
           |ORDER BY doc_a, doc_b""".stripMargin)
  }
}
