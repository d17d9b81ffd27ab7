package graft.queries

import ModelOpsQueries.inDelta
import graft.functions.VectorFunctions._
import graft.util.Staged
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` fixture (64-dim float
  * vectors):
  *
  *  - q29 brute-force cosine top-k — the exactness baseline: a probe set
  *    broadcast against the corpus, ranked per probe. Linear in corpus
  *    size per probe; at cluster scale the corpus side stays partitioned
  *    and only the probes move.
  *  - q30 LSH-bucketed ANN — random-hyperplane signs bucket the corpus;
  *    probes only scan their own bucket (the scale path: bucket becomes
  *    the partition key, each probe touches one partition).
  *  - q31 embedding near-dup — a new-batch probe set joined against the
  *    corpus with a cosine threshold: the dedup-by-embedding shape.
  *
  * Norms are precomputed once per vector; cosine is a left-fold double
  * dot product (bit-identical in DuckDB — see VectorFunctions).
  */
object SimilarityQueries extends graft.QueryFamily {

  private val topK = 5
  private val annK = 3
  private val nearDupThreshold = 0.3
  /** q106: negatives must score BELOW this (candidates above it are
    * positives/near-duplicates, not negatives — the q91 SemDeDup band).
    */
  private val hardNegTau = 0.4
  /** Probe batches are a modular id slice CAPPED at a fixed horizon: a
    * real query/screen batch is O(1) in corpus size (you screen the
    * vectors that just arrived, not 2% of all vectors ever stored), so
    * probe work must not grow with SF — uncapped, pair cost scales
    * quadratically (probes × corpus) and the 10× scale run showed q31
    * at 19× instead of ~10×. The horizon exceeds every driver
    * fixture's max vec_id (1999 at sf0.1), so all oracle-gated results
    * are unchanged at every driver SF.
    */
  private val probeHorizon = 2000L
  private def probeSlice(modulus: Int) =
    col("vec_id") % modulus === 0 && col("vec_id") < probeHorizon
  private def sqlProbeSlice(modulus: Int) =
    s"vec_id % $modulus = 0 AND vec_id < $probeHorizon"
  /** Deterministic IVF "centroids": a fixed id set drawn from the
    * corpus itself (all exist at every SF). A real pipeline would
    * k-means these; the INDEX STRUCTURE — cell assignment by argmax
    * cosine, probes scanning one cell — is what's being exercised.
    */
  private[queries] val centroidIds = Seq(1L, 3L, 8L, 21L, 55L, 144L, 233L, 377L)

  /** Product quantization (Jégou et al., TPAMI 2011 — public): M=8
    * subspaces of 8 dims, K=4 codewords per subspace. The codebook is a
    * fixed id-drawn set like `centroidIds` (the INDEX STRUCTURE —
    * nearest-codeword encode, ADC table lookup — is what's exercised; a
    * deployment k-means-refreshes the codewords with `ext/KMeans`).
    * All distances are exact integers over milli-quantized components
    * (the q151 fixed-point convention), so both engines agree
    * bit-for-bit. Codeword index = rank of the drawn vec_id ascending.
    */
  private[queries] val pqCodebookIds = Seq(1L, 3L, 8L, 21L)
  private val pqM = 8
  private val pqSub = 8
  private val pqK = 4
  private val pqTopK = 5
  /** q184/q185: how many nearest cells a probe scans (Jégou et al.
    * TPAMI 2011 §V — the first knob any IVF deployment turns when
    * recall is too low; q180 measured nprobe=1 at ~2% on the
    * random-embedding fixture, and this is the engine acting on its
    * own number). Per-probe work scales linearly in nprobe; recall is
    * monotone in it (PqSpec pins this through the shared definition).
    */
  private val ivfNprobe = 4
  /** q229/q230: the exact-re-rank shortlist size r (candidates kept
    * per probe from the ADC ranking before true-score re-ranking) —
    * the IVFADC+R device (Jégou et al., "Searching in one billion
    * vectors: re-rank with source coding", ICASSP 2011 — public):
    * r = 4k keeps the refine stage probe-bounded (r full-precision
    * fetches per probe) while recovering neighbors the compressed
    * scores misorder INSIDE the shortlist.
    */
  private val pqRerankR = 20
  /** q189 tombstone slice: established-corpus vec_ids with
    * id % mod == rem (spread across cells; never in the delta range).
    */
  private val pqDeleteMod = 13L
  private val pqDeleteRem = 5L
  /** q227's metadata predicate: the allowed-label set (a deterministic
    * half of the label domain).
    */
  private val filteredLabels: Seq[Int] = Seq(0, 2, 4, 6, 8)

  /** q249/q250 — binary (sign-bit) quantization, the THIRD standard
    * compressed serving tier beside SQ8 (q225, 4×) and PQ (q168, 32×):
    * 1 bit per dim (64× here), hamming distance by XOR + popcount —
    * the sign-random-projection sketch of Charikar (STOC 2002 —
    * public), served in the identity basis exactly as production
    * vector stores ship "binary quantization". Codes pack into TWO
    * 32-bit words per vector rather than one 64-bit word: bit 63 of a
    * single BIGINT would carry the sign and wrap the packing sum in
    * both engines, while 32-bit words keep every intermediate a small
    * positive integer — hamming is then exact in both engines by
    * construction (popcount of XOR, no arithmetic rounding anywhere).
    */
  private val bqWordBits = 32

  /** q251 — matryoshka truncation (Kusupati et al., NeurIPS 2022 —
    * public): search with only the first `mrlDims` components (here
    * 16 of 64, a 4× scan/memory cut with NO re-encoding — the corpus
    * is just read narrower). The eval prices prefix-dim search the
    * same way q226/q250 price the quantized tiers; on MRL-trained
    * embeddings the prefix carries most of the signal, and on this
    * random fixture the measured number is the honest floor.
    */
  private val mrlDims = 16

  /** q270/q271 — the PLANTED probe set: each probe is a corpus vector
    * deterministically perturbed with integer milli-noise, so the
    * perturbation SOURCE is a known ground-truth nearest neighbor and
    * the recall ladder reads on the INDEX, not the fixture (the
    * driver's random embeddings have no neighbor structure, so q260's
    * numbers are an adversarial floor — random high-dim vectors are
    * inherently undiscriminable after quantization; see VERDICT r12).
    * Construction (both engines, exact integers): pmq[d] =
    * floor(v_d·1000) + ((source·37 + d·101) mod 301 − 150), d 1-based;
    * pvec = pmq/1000.0 (the same double division in both engines).
    * Noise is ±150 milli per dim — noise norm ≈ 0.70 against the
    * unit-norm corpus, so cos(probe, source) ≈ 0.82: far above any
    * random pair (max ≈ 0.37 over the fixture), hence the exact scan
    * provably recovers the source (q270 gates this premise at
    * 1000‰), while the quantized tiers spread informatively (a
    * gentler ±43 run saturated every tier at 1000‰ — routing was the
    * only failure mode; at ±150 the ladder also shows what re-rank
    * buys: the cascades recover to 1000‰ from 888‰ ADC/prefix
    * rankings). Probe ids offset by 1e6 so the shared frames'
    * self-exclusion (`vec_id <> probe_id`) never excludes the source.
    */
  private val plantedOffset = 1000000L
  private[graft] def plantedProbes(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .where(probeSlice(61))
      .select(col("vec_id").as("source_id"),
        (col("vec_id") + lit(plantedOffset)).as("probe_id"),
        transform(milliQ(col("embedding")), (m, i) =>
          m + ((col("vec_id") * 37L + (i + 1) * 101L) % 301L - 150L))
          .as("pmq"))
      .withColumn("pvec",
        transform(col("pmq"), m => m.cast("double") / lit(1000.0)))
      .withColumn("pn2", norm2(col("pvec")))

  /** The planted chain's SQL twin (CTEs `pp` → `ppn`): 1-based
    * `list_transform` index = the Spark lambda's `i + 1`.
    */
  private val sqlPlantedChain: String =
    s"""pp AS (SELECT vec_id AS source_id, vec_id + $plantedOffset AS probe_id,
       |    list_transform(embedding, (v, i) ->
       |      CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT)
       |        + (vec_id * 37 + i * 101) % 301 - 150) AS pmq
       |  FROM embeddings WHERE ${sqlProbeSlice(61)}),
       |ppv AS (SELECT source_id, probe_id, pmq,
       |    list_transform(pmq, m -> CAST(m AS DOUBLE) / 1000.0) AS pvec
       |  FROM pp),
       |ppn AS (SELECT *, ${sqlNorm2("pvec")} AS pn2 FROM ppv)""".stripMargin

  /** q215 nDCG position discounts: floor(1e6 / log2(pos+1)) for pos =
    * 1..pqTopK — integer micro-unit LITERALS (computed once, embedded
    * in both engines' plans) so the eval needs no runtime log and
    * cannot drift across engines. IDCG = the perfect-order fold of the
    * same constants with graded relevance (k, k−1, …, 1).
    */
  private val dcgWeightsMicro =
    Seq(1000000L, 630929L, 500000L, 430676L, 386852L)
  private val ndcgIdcgMicro: Long =
    dcgWeightsMicro.zipWithIndex.map { case (w, i) => (pqTopK - i) * w }.sum

  /** Milli-quantized integer components (floor(v·1000) — exact across
    * engines: float→double is exact, ·1000 and floor are IEEE).
    */
  private def milliQ(e: Column): Column =
    transform(e, v => floor(v.cast("double") * 1000).cast("long"))

  /** The codebook is the index's model artifact: K=4 rows fetched once
    * to the driver and folded into projections as literals (the q37
    * convention) — encode is then a pure map over the corpus.
    * `private[graft]`: tools/IndexPipeline seeds its train loop here.
    */
  private[graft] def pqCodebook(s: SparkSession, dir: String): Array[Array[Long]] =
    Tables(s, dir, "embeddings")
      .where(col("vec_id").isin(pqCodebookIds: _*))
      .orderBy("vec_id")
      .select(milliQ(col("embedding")).as("mq"))
      .collect()
      .map(_.getSeq[Long](0).toArray)

  /** The IVF centroid set (id, vector, norm²) fetched once to the
    * driver — the q37 convention and the one centroid fetch of every
    * IVF gate. The q260/q271 scoreboards fetch the model artifacts
    * ONCE and thread them through their three IVF-PQ tiers
    * (`cbOpt`/`centsOpt`) instead of paying a driver collect job per
    * tier.
    */
  private[graft] def ivfCents(
      s: SparkSession, dir: String): Seq[(Long, Array[Double], Double)] =
    emb(s, dir)
      .where(col("vec_id").isin(centroidIds: _*))
      .orderBy("vec_id")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray,
        r.getDouble(2))).toSeq

  /** Squared L2 distance of subspace m's components to codeword cw
    * (milli² integers; ≤ 8·(4·10⁶)² per subspace — fits long).
    */
  private def pqSubDist(mq: Column, cw: Array[Long], m: Int): Column =
    (0 until pqSub).map { d =>
      val diff = element_at(mq, m * pqSub + d + 1) - lit(cw(m * pqSub + d))
      diff * diff
    }.reduce(_ + _)

  /** argmin codeword for subspace m as struct(d, c) — lexicographic
    * array_min gives the (dist ASC, c ASC) tiebreak in one evaluation.
    */
  private def pqBest(mq: Column, cb: Array[Array[Long]], m: Int): Column =
    array_min(array(cb.indices.map(c =>
      struct(pqSubDist(mq, cb(c), m).as("d"), lit(c).as("c"))): _*))

  /** The nearest-codeword index of every subspace of `mq` — the codes
    * array an ADC scan reads.
    */
  private def pqCodes(mq: Column, cb: Array[Array[Long]]): Column =
    array((0 until pqM).map(m => pqBest(mq, cb, m).getField("c")): _*)

  /** A probe's ADC table `pd`: each subspace's distance to every
    * codeword, m-major (pqM × pqK longs), computed once per probe.
    */
  private def pqTable(mq: Column, cb: Array[Array[Long]]): Column =
    array((0 until pqM).flatMap(m =>
      cb.indices.map(c => pqSubDist(mq, cb(c), m))): _*)

  /** The asymmetric distance of a candidate's `codes` under its
    * probe's table `pd`: pqM lookups + adds, never a float dot.
    */
  private def pqAdc: Column = (0 until pqM).map(m =>
    element_at(col("pd"), lit(m * pqK + 1) + element_at(col("codes"), m + 1)))
    .reduce(_ + _)

  /** `frame`'s `keep` columns plus the PQ encode of its milli vector
    * `mq`: packed_code (2 bits per subspace) and qerr (the summed
    * nearest-codeword distances) — the one encode of q168, q195 and the
    * cell-code rows.
    */
  private def pqEncoded(frame: DataFrame, mq: String,
      cb: Array[Array[Long]], keep: Seq[String]): DataFrame = {
    val bests = (0 until pqM).map(m => pqBest(col(mq), cb, m).as(s"b$m"))
    frame.select(keep.map(col) ++ bests: _*)
      .select(keep.map(col) ++ Seq(
        (0 until pqM).map(m =>
          col(s"b$m").getField("c").cast("long") * lit(1L << (2 * m)))
          .reduce(_ + _).as("packed_code"),
        (0 until pqM).map(m => col(s"b$m").getField("d"))
          .reduce(_ + _).as("qerr")): _*)
  }

  /** Shared oracle CTEs: milli components, codebook (c = vec_id rank),
    * per-(vec, subspace, codeword) distances, argmin codes. One string,
    * both PQ gates — the code assignment cannot drift between them.
    */
  private val sqlPqCodes: String = {
    val ids = pqCodebookIds.mkString(",")
    s"""me AS (SELECT vec_id,
       |    list_transform(embedding, v ->
       |      CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT)) AS mq
       |  FROM embeddings),
       |cb AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, mq AS cw
       |  FROM me WHERE vec_id IN ($ids)),
       |pd AS (SELECT me.vec_id, t.m, cb.c,
       |    CAST(list_sum(list_transform(range(1, ${pqSub + 1}), i ->
       |      (me.mq[CAST(t.m * $pqSub + i AS INT)]
       |        - cb.cw[CAST(t.m * $pqSub + i AS INT)]) *
       |      (me.mq[CAST(t.m * $pqSub + i AS INT)]
       |        - cb.cw[CAST(t.m * $pqSub + i AS INT)]))) AS BIGINT) AS dist
       |  FROM me, range(0, $pqM) t(m), cb),
       |cod AS (SELECT vec_id, m, c AS code, dist FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |      ORDER BY dist, c) AS rn FROM pd) WHERE rn = 1)""".stripMargin
  }

  /** q169's codes cache — at most one generation live (CacheSlot). */
  private val lastPqCodes = new graft.util.CacheSlot

  /** The IVF-PQ candidate CTE chain (through `adc`) for a given
    * `nprobe` — ONE definition shared by the q177/q180 (nprobe=1) and
    * q184/q185 (nprobe=[[ivfNprobe]]) oracles, mirroring
    * [[ivfPqTopN]]: `pcells` keeps each probe's top-nprobe cells by
    * the same (cosine DESC, c_id ASC) ranking that assigns corpus
    * cells, and a candidate contributes iff its ONE home cell is among
    * them (so no per-candidate dedup is ever needed).
    */
  /** The corpus half of every IVF-PQ oracle — embeddings with norms
    * (`e`), the centroid set (`c`), and each corpus vector's ONE home
    * cell (`cells`) — shared by the corpus-probe chain
    * ([[sqlIvfPqAdcN]]) and the planted-probe chain
    * ([[sqlIvfPqAdcPlantedN]]), so the indexed corpus cannot drift
    * between the two faces.
    */
  private lazy val sqlIvfCorpusCtes: String = {
    val cCos = sqlCosineFrom(sqlDot("e.embedding", "c.ce"), "e.n2", "c.cn2")
    s"""$sqlEmb,
       |c AS (SELECT vec_id AS c_id, embedding AS ce, n2 AS cn2
       |      FROM e WHERE vec_id IN (${centroidIds.mkString(",")})),
       |cells AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.c_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY $cCos DESC, c.c_id) AS rn
       |    FROM e, c) WHERE rn = 1)""".stripMargin
  }

  private def sqlIvfPqAdcN(nprobe: Int): String = {
    val cCos = sqlCosineFrom(sqlDot("e.embedding", "c.ce"), "e.n2", "c.cn2")
    s"""$sqlIvfCorpusCtes,
       |pcells AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.c_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY $cCos DESC, c.c_id) AS rn
       |    FROM e, c WHERE ${sqlProbeSlice(61).replace("vec_id", "e.vec_id")})
       |  WHERE rn <= $nprobe),
       |$sqlPqCodes,
       |pr AS (SELECT pd.vec_id AS probe_id, pd.m, pd.c, pd.dist,
       |        pc.cell AS pcell
       |      FROM pd JOIN pcells pc ON pc.vec_id = pd.vec_id),
       |adc AS (SELECT pr.probe_id, cod.vec_id, cc.cell,
       |    CAST(SUM(pr.dist) AS BIGINT) AS adc_dist
       |  FROM cod JOIN pr ON pr.m = cod.m AND pr.c = cod.code
       |  JOIN cells cc ON cc.vec_id = cod.vec_id
       |  WHERE cod.vec_id <> pr.probe_id AND cc.cell = pr.pcell
       |  GROUP BY 1, 2, 3)""".stripMargin
  }

  private lazy val sqlIvfPqAdc: String = sqlIvfPqAdcN(1)

  /** The PLANTED-probe IVF-PQ chain (through `adc`) — the same corpus
    * half ([[sqlIvfCorpusCtes]], [[sqlPqCodes]]) as the gated index;
    * only the probe side differs, as it must: probe cells rank by
    * cosine(pvec, centroid), probe ADC tables come off the planted
    * integer milli components (`ppd` mirrors `pd`). Mirrors
    * [[ivfPqTopN]]'s `probesOpt = Some(planted)` branch.
    */
  private def sqlIvfPqAdcPlantedN(nprobe: Int): String = {
    val pCos = sqlCosineFrom(sqlDot("p.pvec", "c.ce"), "p.pn2", "c.cn2")
    s"""$sqlIvfCorpusCtes,
       |$sqlPlantedChain,
       |pcells AS (
       |  SELECT probe_id, cell FROM (
       |    SELECT p.probe_id, c.c_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY p.probe_id
       |        ORDER BY $pCos DESC, c.c_id) AS rn
       |    FROM ppn p, c)
       |  WHERE rn <= $nprobe),
       |$sqlPqCodes,
       |ppd AS (SELECT p.probe_id, t.m, cb.c,
       |    CAST(list_sum(list_transform(range(1, ${pqSub + 1}), i ->
       |      (p.pmq[CAST(t.m * $pqSub + i AS INT)]
       |        - cb.cw[CAST(t.m * $pqSub + i AS INT)]) *
       |      (p.pmq[CAST(t.m * $pqSub + i AS INT)]
       |        - cb.cw[CAST(t.m * $pqSub + i AS INT)]))) AS BIGINT) AS dist
       |  FROM ppn p, range(0, $pqM) t(m), cb),
       |pr AS (SELECT ppd.probe_id, ppd.m, ppd.c, ppd.dist,
       |        pc.cell AS pcell
       |      FROM ppd JOIN pcells pc ON pc.probe_id = ppd.probe_id),
       |adc AS (SELECT pr.probe_id, cod.vec_id, cc.cell,
       |    CAST(SUM(pr.dist) AS BIGINT) AS adc_dist
       |  FROM cod JOIN pr ON pr.m = cod.m AND pr.c = cod.code
       |  JOIN cells cc ON cc.vec_id = cod.vec_id
       |  WHERE cod.vec_id <> pr.probe_id AND cc.cell = pr.pcell
       |  GROUP BY 1, 2, 3)""".stripMargin
  }

  /** The SQ8 CTE chain (through the ranked `r8`) — mirrors [[sq8Top]]:
    * micro quantization, per-dim scales, integer dequant, exact
    * integer dot, (score DESC, vec_id) ranking. `probeCte` fills the
    * `pq8` body — the corpus slice by default, q271's planted micro
    * probes (`pmq·1000`) for the planted face, exactly as the Spark
    * frame parameterizes.
    */
  private def sqlSq8ChainFrom(probeCte: String): String =
    s"""mz AS (SELECT vec_id, list_transform(embedding,
       |    v -> CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS mq
       |  FROM embeddings),
       |sc AS (SELECT i AS dim, MAX(abs(mq[CAST(i AS INT)])) AS s
       |       FROM mz, (SELECT unnest(range(1, 65)) AS i) t GROUP BY i),
       |scl AS (SELECT list(s ORDER BY dim) AS sa FROM sc),
       |dq AS (SELECT vec_id, list_transform(range(1, 65), i ->
       |         CASE WHEN sa[CAST(i AS INT)] = 0 THEN CAST(0 AS BIGINT)
       |           ELSE CAST(CASE WHEN mq[CAST(i AS INT)] < 0
       |               THEN -1 ELSE 1 END AS BIGINT)
       |             * ((abs(mq[CAST(i AS INT)]) * 127 // sa[CAST(i AS INT)])
       |                * sa[CAST(i AS INT)] // 127) END) AS deq
       |       FROM mz, scl),
       |pq8 AS ($probeCte),
       |s8 AS (SELECT p.probe_id, d.vec_id,
       |    CAST(list_sum(list_transform(range(1, 65), i ->
       |      d.deq[CAST(i AS INT)] * p.pmq[CAST(i AS INT)])) AS BIGINT)
       |      AS score
       |  FROM dq d JOIN pq8 p ON d.vec_id <> p.probe_id),
       |r8 AS (SELECT probe_id, vec_id, score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
       |      ORDER BY score DESC, vec_id) AS INTEGER) AS rn
       |  FROM s8)""".stripMargin

  private lazy val sqlSq8Chain: String = sqlSq8ChainFrom(
    s"SELECT vec_id AS probe_id, mq AS pmq FROM mz WHERE ${sqlProbeSlice(61)}")

  /** The recall-eval twin for a given nprobe — mirrors
    * [[pqRecallFrame]]; ONE parametric string keeps the q180 and q185
    * gates on the same eval arithmetic.
    */
  private def sqlPqRecall(nprobe: Int): String = {
    val cos = sqlCosineFrom(sqlDot("p.pe", "e.embedding"), "p.pn2", "e.n2")
    s"""WITH ${sqlIvfPqAdcN(nprobe)},
       |pqtop AS (SELECT probe_id, vec_id FROM (
       |    SELECT probe_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY probe_id
       |        ORDER BY adc_dist, vec_id) AS rn
       |    FROM adc) WHERE rn <= $pqTopK),
       |p AS (SELECT vec_id AS probe_id, embedding AS pe, n2 AS pn2
       |      FROM e WHERE ${sqlProbeSlice(61)}),
       |ex AS (SELECT probe_id, vec_id FROM (
       |  SELECT p.probe_id, e.vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY p.probe_id
       |      ORDER BY $cos DESC, e.vec_id) AS rn
       |  FROM p JOIN e ON e.vec_id <> p.probe_id)
       |  WHERE rn <= $pqTopK),
       |h AS (SELECT ex.probe_id, CAST(COUNT(*) AS BIGINT) AS k_exact,
       |        CAST(SUM(CASE WHEN pqtop.vec_id IS NOT NULL
       |          THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
       |      FROM ex LEFT JOIN pqtop
       |        ON pqtop.probe_id = ex.probe_id
       |        AND pqtop.vec_id = ex.vec_id
       |      GROUP BY ex.probe_id)
       |SELECT probe_id, k_exact, n_hits,
       |  n_hits * 1000 // $pqTopK AS recall_permille,
       |  CAST(SUM(n_hits) OVER () * 1000
       |    // (COUNT(*) OVER () * $pqTopK) AS BIGINT)
       |    AS overall_recall_permille
       |FROM h ORDER BY probe_id""".stripMargin
  }

  /** The residual-PQ CTE chain (through `adc`) for a given nprobe —
    * mirrors [[resAssigned]]/[[resIvfPqTop]]; ONE definition for the
    * q195/q196/q197 oracles. `rv` holds per-vector integer residuals
    * (milli(x) − milli(centroid[cell])), `cbr` the codebook vectors'
    * OWN residuals (id-drawn convention), `prv` the probe's residual
    * PER PROBED CELL.
    */
  private def sqlResChain(nprobe: Int): String = {
    val cCos = sqlCosineFrom(sqlDot("e.embedding", "c.ce"), "e.n2", "c.cn2")
    def sqDist(rq: String): String =
      s"CAST(list_sum(list_transform(range(1, ${pqSub + 1}), i ->\n" +
        s"      ($rq[CAST(t.m * $pqSub + i AS INT)]\n" +
        s"        - cbr.cw[CAST(t.m * $pqSub + i AS INT)]) *\n" +
        s"      ($rq[CAST(t.m * $pqSub + i AS INT)]\n" +
        s"        - cbr.cw[CAST(t.m * $pqSub + i AS INT)]))) AS BIGINT)"
    s"""$sqlEmb,
       |c AS (SELECT vec_id AS c_id, embedding AS ce, n2 AS cn2
       |      FROM e WHERE vec_id IN (${centroidIds.mkString(",")})),
       |cells AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.c_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY $cCos DESC, c.c_id) AS rn
       |    FROM e, c) WHERE rn = 1),
       |me AS (SELECT vec_id,
       |    list_transform(embedding, v ->
       |      CAST(floor(CAST(v AS DOUBLE) * 1000) AS BIGINT)) AS mq
       |  FROM embeddings),
       |cm AS (SELECT vec_id AS ccell, mq AS cmq FROM me
       |       WHERE vec_id IN (${centroidIds.mkString(",")})),
       |rv AS (SELECT me.vec_id, cl.cell,
       |    list_transform(range(1, 65), i ->
       |      me.mq[CAST(i AS INT)] - cm.cmq[CAST(i AS INT)]) AS rq
       |  FROM me JOIN cells cl USING (vec_id)
       |  JOIN cm ON cm.ccell = cl.cell),
       |cbr AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS k,
       |    rq AS cw
       |  FROM rv WHERE vec_id IN (${pqCodebookIds.mkString(",")})),
       |rpd AS (SELECT rv.vec_id, t.m, cbr.k,
       |    ${sqDist("rv.rq")} AS dist
       |  FROM rv, range(0, $pqM) t(m), cbr),
       |rcod AS (SELECT vec_id, m, k AS code, dist FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |      ORDER BY dist, k) AS rn FROM rpd) WHERE rn = 1),
       |pcells AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.c_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY $cCos DESC, c.c_id) AS rn
       |    FROM e, c WHERE ${sqlProbeSlice(61).replace("vec_id", "e.vec_id")})
       |  WHERE rn <= $nprobe),
       |prv AS (SELECT pc.vec_id AS probe_id, pc.cell AS pcell,
       |    list_transform(range(1, 65), i ->
       |      me.mq[CAST(i AS INT)] - cm.cmq[CAST(i AS INT)]) AS rq
       |  FROM pcells pc JOIN me ON me.vec_id = pc.vec_id
       |  JOIN cm ON cm.ccell = pc.cell),
       |prd AS (SELECT prv.probe_id, prv.pcell, t.m, cbr.k,
       |    ${sqDist("prv.rq")} AS dist
       |  FROM prv, range(0, $pqM) t(m), cbr),
       |adc AS (SELECT prd.probe_id, rcod.vec_id, cc.cell,
       |    CAST(SUM(prd.dist) AS BIGINT) AS adc_dist
       |  FROM rcod JOIN prd ON prd.m = rcod.m AND prd.k = rcod.code
       |  JOIN cells cc ON cc.vec_id = rcod.vec_id
       |  WHERE rcod.vec_id <> prd.probe_id AND cc.cell = prd.pcell
       |  GROUP BY 1, 2, 3)""".stripMargin
  }

  /** q177's cell+codes cache — at most one generation live. */
  private val lastIvfPqCodes = new graft.util.CacheSlot

  /** A probe's top-`n` cells by (cosine DESC, c_id ASC) as a sorted
    * array of the SAME struct(c, nid) terms [[bestCell]] maximizes —
    * `array_sort` ascending then `reverse` gives exactly that ranking
    * (struct order: c ASC, -cId ASC ⇒ reversed: c DESC, cId ASC), so
    * nprobe=1 reproduces the bestCell winner bit-for-bit. One
    * projection over the bounded probe batch; each centroid cosine
    * evaluates once per probe.
    */
  private def topCellsArr(embC: Column, n2C: Column,
      cents: Seq[(Long, Array[Double], Double)], n: Int): Column =
    slice(reverse(array_sort(array(cents.map { case (cId, ce, cn2) =>
      struct(
        cosineFrom(dot(embC, array(ce.map(lit(_)): _*)), n2C, lit(cn2)).as("c"),
        lit(-cId).as("nid"))
    }: _*))), 1, n)

  /** The IVF-PQ ranked frame (probe_id, vec_id, cell, adc_dist, rn)
    * for a given `nprobe` — ONE definition shared by the q177 gate and
    * q180's recall eval (nprobe=1) and by q184/q185 (nprobe=
    * [[ivfNprobe]]), so the measured index is exactly the gated one.
    * Each probe explodes into its `nprobe` nearest cells (a bounded
    * per-probe explode — the probe batch stays broadcast-sized, cells
    * stay the candidate-side partition key); a candidate belongs to
    * exactly ONE cell, so the routed join yields each (probe,
    * candidate) at most once and needs no dedup. See q177's scaladoc
    * for the shape rationale.
    */
  private[graft] def ivfPqTopN(
      s: SparkSession, dir: String, nprobe: Int,
      cbOpt: Option[Array[Array[Long]]] = None,
      centsOpt: Option[Seq[(Long, Array[Double], Double)]] = None,
      topN: Int = pqTopK,
      probesOpt: Option[DataFrame] = None): DataFrame = {
    val cb = cbOpt.getOrElse(pqCodebook(s, dir))
    val corpus = emb(s, dir)
    val centsD: Seq[(Long, Array[Double], Double)] =
      centsOpt.getOrElse(ivfCents(s, dir))
    val best = bestCell(col("embedding"), col("n2"), centsD)
    val assigned = corpus.select(col("vec_id"),
      milliQ(col("embedding")).as("mq"), (-best.getField("nid")).as("cell"))
    val codes = lastIvfPqCodes.swap(assigned
      .select(col("vec_id"), col("cell"), pqCodes(col("mq"), cb).as("codes"))
      .cache())
    // canonical probe base (probe_id, mq milli, pv vector, pn2): the
    // corpus slice by default, or q271's planted frame — the SAME
    // routing + ADC expressions run on either, so the planted eval
    // measures exactly the gated index
    val probeBase = probesOpt match {
      case None => corpus.where(probeSlice(61))
        .select(col("vec_id").as("probe_id"),
          milliQ(col("embedding")).as("mq"),
          col("embedding").as("pv"), col("n2").as("pn2"))
      case Some(pp) => pp.select(col("probe_id"), col("pmq").as("mq"),
        col("pvec").as("pv"), col("pn2"))
    }
    val probes = probeBase
      .select(col("probe_id"), col("mq"),
        explode(topCellsArr(col("pv"), col("pn2"), centsD, nprobe))
          .as("pc"))
      .select(col("probe_id"), (-col("pc.nid")).as("pcell"),
        pqTable(col("mq"), cb).as("pd"))
    val scored = codes
      .join(broadcast(probes),  // hint audit: probe-batch-bounded (9-row probe slice x nprobe<=8 cells carrying 32-long ADC tables)
        col("cell") === col("pcell") && col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("cell"),
        pqAdc.as("adc_dist"))
    rankedTop(scored, topN, "adc_dist", high = false)
  }

  private def ivfPqTop(s: SparkSession, dir: String): DataFrame =
    ivfPqTopN(s, dir, 1)

  /** q229's re-ranked frame (probe_id, vec_id, cosine, rn ≤ k): the
    * ADC shortlist (top-[[pqRerankR]] by compressed score, through the
    * SAME [[ivfPqTopN]] the q184 gate executes) re-scored with the
    * EXACT cosine and cut to top-k — the IVFADC+R second stage. Shared
    * by the q229 gate and q230's eval so the measured list is exactly
    * the gated one. The corpus is touched once (the codes scan inside
    * ivfPqTopN) plus probes×r full-precision fetches — the refine cost
    * a deployment pays for the recall it buys.
    */
  private[graft] def rerankTop(s: SparkSession, dir: String): DataFrame =
    rerankFrom(s, dir, ivfPqTopN(s, dir, ivfNprobe, topN = pqRerankR))

  /** The refine stage alone, over a prebuilt (probe_id, vec_id)
    * shortlist — split out so q230's eval can derive BOTH faces
    * (re-rank and plain ADC@k) from ONE shortlist frame: the ADC top-k
    * is the same ranking truncated at k, so sharing the frame both
    * halves the codes-build work and makes "shortlist ⊇ ADC top-k" —
    * the premise of the dominance theorem — structural.
    */
  private def rerankFrom(
      s: SparkSession, dir: String, shortlistRanked: DataFrame,
      probesOpt: Option[DataFrame] = None): DataFrame = {
    val shortlist = shortlistRanked.select(col("probe_id"), col("vec_id"))
    val corpus = emb(s, dir)
    val cands = corpus
      .join(broadcast(shortlist), Seq("vec_id"))  // hint audit: probe-bounded (<= probes x r shortlist rows)
      .join(broadcast(probesFor(corpus, probesOpt)), Seq("probe_id"))  // hint audit: probe-batch-bounded (9-row probe slice)
      .select(col("probe_id"), col("vec_id"), probeCosine.as("cosine"))
    rankedTop(cands, pqTopK)
  }

  /** q168's encode as a parametric frame (vec_id, packed_code, qerr):
    * the codebook is literal-folded, argmin per subspace is one
    * lexicographic array_min, NO shuffle — pure scan-stage map. ONE
    * definition for the q168 gate (id-drawn codebook) and
    * tools/IndexPipeline (refreshed codebooks), so the pipeline's
    * encode stage IS the gated one.
    */
  private[graft] def pqEncodeFrame(
      s: SparkSession, dir: String, cb: Array[Array[Long]]): DataFrame = {
    pqEncoded(Tables(s, dir, "embeddings")
      .select(col("vec_id"), milliQ(col("embedding")).as("mq")), "mq", cb,
      Seq("vec_id"))
  }

  /** q181's Lloyd refresh step as a parametric frame
    * (m, c, d, n_members, new_milli) — same sharing contract as
    * [[pqEncodeFrame]]; see q181's scaladoc for the shape.
    */
  private[graft] def pqRefreshFrame(
      s: SparkSession, dir: String, cb: Array[Array[Long]]): DataFrame = {
    val withCodes = Tables(s, dir, "embeddings")
      .select(milliQ(col("embedding")).as("mq"))
      .select(col("mq"), pqCodes(col("mq"), cb).as("codes"))
    withCodes
      .select(col("codes"), posexplode(col("mq")).as(Seq("pos", "v")))
      .select(expr(s"pos div $pqSub").cast("long").as("m"),
        expr(s"pos % $pqSub").cast("long").as("d"), col("v"),
        col("codes"))
      .select(col("m"), element_at(col("codes"), (col("m") + 1).cast("int"))
        .cast("long").as("c"), col("d"), col("v"))
      .groupBy("m", "c", "d")
      .agg(count(lit(1)).as("n_members"), sum(col("v")).as("sv"))
      .select(col("m"), col("c"), col("d"), col("n_members"),
        expr("sv div n_members").as("new_milli"))
  }

  /** One codebook-refresh round: the q181 frame folded back into the
    * K×64 milli array (a ≤ M·K·pqSub = 256-row collect — the model
    * artifact, not data). Codewords with no members keep their old
    * components, the standard empty-cluster rule.
    */
  private[graft] def refreshedCodebook(s: SparkSession, dir: String,
      cb: Array[Array[Long]]): Array[Array[Long]] = {
    val next = cb.map(_.clone())
    pqRefreshFrame(s, dir, cb)
      .select("m", "c", "d", "new_milli").collect().foreach { r =>
        next(r.getLong(1).toInt)(
          r.getLong(0).toInt * pqSub + r.getLong(2).toInt) = r.getLong(3)
      }
    next
  }

  /** q196's residual-codes cache — at most one generation live. */
  private val lastResPqCodes = new graft.util.CacheSlot

  /** Residual IVF-PQ foundation (IVFADC proper — Jégou et al. TPAMI
    * 2011 §III): instead of quantizing raw vectors, each vector
    * quantizes its RESIDUAL to the assigned centroid (r = milli(x) −
    * milli(centroid[cell]), exact integers), which concentrates the
    * quantizer's dynamic range on the within-cell variation — the
    * second standard remedy (after nprobe) when PQ recall is too low.
    * Returns (assigned-residuals frame (vec_id, cell, rq), residual
    * codebook, centroid-set, centroid-milli frame). The residual
    * codebook follows the id-drawn convention: the CODEBOOK VECTORS'
    * OWN residuals, computed through the same frame (no driver-side
    * arithmetic to drift). The 8-row centroid-milli join broadcasts.
    */
  private def resAssigned(s: SparkSession, dir: String,
      centsOpt: Option[Seq[(Long, Array[Double], Double)]] = None)
      : (DataFrame, Array[Array[Long]],
         Seq[(Long, Array[Double], Double)], DataFrame) = {
    val corpus = emb(s, dir)
    val centsD = centsOpt.getOrElse(ivfCents(s, dir))
    import s.implicits._
    val centMilli = centsD.map { case (id, ce, _) =>
      (id, ce.map(v => math.floor(v * 1000).toLong).toSeq)
    }.toDF("cell", "cmq")
    val best = bestCell(col("embedding"), col("n2"), centsD)
    val assigned = corpus.select(col("vec_id"),
      milliQ(col("embedding")).as("mq"), (-best.getField("nid")).as("cell"))
      .join(broadcast(centMilli), "cell")  // hint audit: dimension-bounded (8-row centroid-milli frame)
      .select(col("vec_id"), col("cell"),
        zip_with(col("mq"), col("cmq"), (a, b) => a - b).as("rq"))
    val cbRes: Array[Array[Long]] = assigned
      .where(col("vec_id").isin(pqCodebookIds: _*))
      .orderBy("vec_id").select("rq").collect()
      .map(_.getSeq[Long](0).toArray)
    (assigned, cbRes, centsD, centMilli)
  }

  /** Total residual-PQ quantization error under a given centroid set —
    * the number that makes the IVFADC precondition measurable (see
    * q197's scaladoc): training centroids shrinks residual norms, so
    * this drops as ext/KMeans inertia drops (IndexPipelineSpec pins
    * trained < id-drawn on the fixture). One scan + a 1-row rollup.
    */
  private[graft] def resPqTotalQerr(s: SparkSession, dir: String,
      centsOpt: Option[Seq[(Long, Array[Double], Double)]] = None): Long = {
    val (assigned, cbRes, _, _) = resAssigned(s, dir, centsOpt)
    pqEncoded(assigned, "rq", cbRes, Nil)
      .agg(sum(col("qerr"))).head().getLong(0)
  }

  /** The residual-PQ ranked frame (probe_id, vec_id, cell, adc_dist,
    * rn) — q196's gate and q197's recall eval share it (the
    * q177/q180 sharing applied to the residual tier). Probe-side ADC
    * tables are PER PROBED CELL (the probe's residual depends on which
    * cell it scans — the defining IVFADC subtlety), so the exploded
    * probe batch carries nprobe 32-entry tables, still
    * broadcast-bounded.
    */
  private[graft] def resIvfPqTop(
      s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val (assigned, cbRes, centsD, centMilli) = resAssigned(s, dir)
    val codes = lastResPqCodes.swap(assigned
      .select(col("vec_id"), col("cell"), pqCodes(col("rq"), cbRes).as("codes"))
      .cache())
    val probes = emb(s, dir).where(probeSlice(61))
      .select(col("vec_id").as("probe_id"),
        milliQ(col("embedding")).as("mq"),
        explode(topCellsArr(col("embedding"), col("n2"), centsD, nprobe))
          .as("pc"))
      .select(col("probe_id"), col("mq"), (-col("pc.nid")).as("pcell"))
      .join(broadcast(centMilli.withColumnRenamed("cell", "pcell")), "pcell")  // hint audit: dimension-bounded (8-row centroid-milli frame)
      .select(col("probe_id"), col("pcell"),
        zip_with(col("mq"), col("cmq"), (a, b) => a - b).as("rq"))
      .select(col("probe_id"), col("pcell"), pqTable(col("rq"), cbRes).as("pd"))
    val scored = codes
      .join(broadcast(probes),  // hint audit: probe-batch-bounded (9-row probe slice x nprobe<=8 cells carrying 32-long ADC tables)
        col("cell") === col("pcell") && col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("cell"),
        pqAdc.as("adc_dist"))
    rankedTop(scored, pqTopK, "adc_dist", high = false)
  }

  /** (vec_id, cell, packed_code, qerr) for any embeddings frame,
    * through the SAME frozen artifacts and expressions as the gated
    * q37 cell assignment and q168 encode — the one encode contract all
    * build paths (batch q168, delta q186) share, so an incrementally
    * maintained index cannot drift from its from-scratch twin.
    */
  private def pqCellCodeRows(frame: DataFrame, cb: Array[Array[Long]],
      centsD: Seq[(Long, Array[Double], Double)]): DataFrame = {
    val best = bestCell(col("embedding"), col("n2"), centsD)
    pqEncoded(frame.select(col("vec_id"), milliQ(col("embedding")).as("mq"),
      (-best.getField("nid")).as("cell")), "mq", cb, Seq("vec_id", "cell"))
  }

  /** (vec_id, cell, packed_code, qerr) for ANY (vec_id, embedding)
    * frame under the frozen gated artifacts — the entry the STREAMING
    * ingest gate (q204) uses, so the in-stream encode is EXACTLY the
    * gated q168/q37 one (pure codegen projections: the codebook and
    * centroids are driver-side literals, legal inside a micro-batch).
    */
  private[graft] def pqCodeRowsFor(
      s: SparkSession, dir: String, frame: DataFrame): DataFrame = {
    val cb = pqCodebook(s, dir)
    pqCellCodeRows(frame.select(col("vec_id"), col("embedding"),
      norm2(col("embedding")).as("n2")), cb, ivfCents(s, dir))
  }

  /** [[pqCellIndex]] for callers outside this object (q204's post-sink
    * merge — ONE rollup definition across all build paths).
    */
  private[graft] def pqCellIndexOf(codeRows: DataFrame): DataFrame =
    pqCellIndex(codeRows)

  /** The per-cell IVF-PQ index rollup — member count, total
    * quantization error (the codebook-staleness audit), a
    * member-weighted code fingerprint, and the sorted member posting
    * list. ONE definition for the old-corpus, delta, and merged
    * builds (the q163 contract applied to the vector tier).
    */
  private def pqCellIndex(codeRows: DataFrame): DataFrame = codeRows
    .groupBy("cell")
    .agg(count(lit(1)).as("n_members"),
      sum(col("qerr")).as("sum_qerr"),
      sum(col("packed_code") * (col("vec_id") % 997L + 1L)).as("code_fp"),
      sort_array(collect_list(col("vec_id"))).as("postings"))

  /** recall@k of the nprobe-routed IVF-PQ ranking against the exact
    * full-scan cosine top-k — ONE definition shared by q180 (nprobe=1)
    * and q185 (nprobe=[[ivfNprobe]]), and the surface PqSpec's
    * recall-monotonicity gate compares, so the measured curve is
    * exactly the gated index at both endpoints. Both lists are
    * ≤ k·|probes| rows; the comparison never re-touches the corpus.
    */
  private[graft] def pqRecallFrame(
      s: SparkSession, dir: String, nprobe: Int,
      cbOpt: Option[Array[Array[Long]]] = None,
      centsOpt: Option[Seq[(Long, Array[Double], Double)]] = None)
      : DataFrame =
    recallRollup(exactTop(s, dir), pqTopK,
      "" -> ivfPqTopN(s, dir, nprobe, cbOpt, centsOpt))

  /** q225/q226 — scalar (int8) quantization search, the OTHER standard
    * compressed ANN tier beside PQ (4× compression, per-dim codes;
    * PQ's 32× groups dims): q151's EXACT quantization scheme (per-dim
    * scale = max|micro|, code = sign·(|m|·127 div s), dequant =
    * sign·(code·s) div 127 — all integer, both engines bit-equal)
    * applied as a SEARCH path: the corpus dequantizes scan-stage and
    * probes score against it with an exact integer dot. The 64-row
    * scale fetch is the index's model artifact (the q37 centroid
    * convention).
    */
  private def microQ(e: Column): Column =
    transform(e, v => floor(v.cast("double") * 1000000).cast("long"))

  private def sq8Scales(s: SparkSession, dir: String): Array[Long] =
    Tables(s, dir, "embeddings")
      .select(posexplode(microQ(col("embedding"))).as(Seq("dim", "m")))
      .groupBy("dim").agg(max(abs(col("m"))).as("sc"))
      .orderBy("dim").collect().map(_.getLong(1))

  /** The SQ8 ranked frame (probe_id, vec_id, score, rn) — shared by
    * the q225 gate and q226's recall eval.
    */
  private[graft] def sq8Top(s: SparkSession, dir: String,
      probesOpt: Option[DataFrame] = None): DataFrame = {
    val sa = sq8Scales(s, dir)
    val corpus = Tables(s, dir, "embeddings")
      .select(col("vec_id"), microQ(col("embedding")).as("mq"))
      .withColumn("sa", array(sa.map(lit(_)): _*))
    val deq = corpus.select(col("vec_id"),
      expr("zip_with(mq, sa, (m, s) -> CASE WHEN s = 0L THEN 0L ELSE " +
        "(CASE WHEN m < 0L THEN -1L ELSE 1L END) * " +
        "((abs(m) * 127L div s) * s div 127L) END)").as("deq"))
    // planted probes arrive in milli; their micro components are
    // EXACTLY pmq·1000 (m/1000 · 1e6 — no re-floor, no drift)
    val probes = probesOpt match {
      case None => corpus.where(probeSlice(61))
        .select(col("vec_id").as("probe_id"), col("mq").as("pmq"))
      case Some(pp) => pp.select(col("probe_id"),
        transform(col("pmq"), m => m * lit(1000L)).as("pmq"))
    }
    val scored = deq
      .join(broadcast(probes), col("vec_id") =!= col("probe_id"))  // hint audit: probe-batch-bounded (9-row probe slice)
      .select(col("probe_id"), col("vec_id"),
        expr("aggregate(zip_with(deq, pmq, (a, b) -> a * b), 0L, " +
          "(acc, x) -> acc + x)").as("score"))
    rankedTop(scored, pqTopK, "score")
  }

  /** q260: the exact top-k list is joined against all seven tier
    * lists — cached once (same unpersist discipline as lastEdges).
    */
  private val lastScoreboardExact = new graft.util.CacheSlot

  /** The scoreboards' shared BQ shortlist (probe×R rows, probe-
    * bounded): ONE scored corpus pass serves both the bq1bit tier
    * (the R-ranking truncated at k — same total order, hamming ASC
    * then vec_id ASC) and the bq_rerank tier's shortlist, instead of
    * two full XOR+popcount passes per scoreboard invocation.
    */
  private val lastScoreboardBq = new graft.util.CacheSlot

  /** q271's planted probe frame — cached once, read by all 8 tier
    * builds (same unpersist discipline as lastEdges).
    */
  private val lastPlanted = new graft.util.CacheSlot

  /** The probe batch (probe_id, pe, pn2, extra…) of a (vec_id,
    * embedding, n2) frame: the capped modular id slice.
    */
  private def sliceProbes(frame: DataFrame, extra: Column*): DataFrame =
    frame.where(probeSlice(61))
      .select(Seq(col("vec_id").as("probe_id"), col("embedding").as("pe"),
        col("n2").as("pn2")) ++ extra: _*)

  /** The (probe_id, pe, pn2) probe frame of the probe-parameterized
    * frames: the id slice of `corpus`, or the planted probes.
    */
  private def probesFor(corpus: DataFrame,
      probesOpt: Option[DataFrame]): DataFrame = probesOpt match {
    case None => sliceProbes(corpus)
    case Some(pp) => pp.select(col("probe_id"), col("pvec").as("pe"),
      col("pn2"))
  }

  /** Cosine of the probe vector `pe` against the candidate's
    * `embedding` — the one scoring expression of every probe scan.
    */
  private def probeCosine: Column =
    cosineFrom(dot(col("pe"), col("embedding")), col("pn2"), col("n2"))

  /** `rn` within each probe by `score` (DESC when `high`, else ASC),
    * vec_id ASC on ties.
    */
  private def rankBy(df: DataFrame, score: String = "cosine",
      high: Boolean = true): DataFrame =
    df.withColumn("rn", row_number().over(Window.partitionBy("probe_id")
      .orderBy(if (high) desc(score) else asc(score), asc("vec_id"))))

  /** Per-probe top-n of `scored` with its rank `rn` ([[rankBy]]'s
    * order): the bounded-heap TopK operator cuts to n rows per probe
    * per partition before any sort, so the row_number window runs over
    * ≤ n rows per probe.
    */
  private def rankedTop(scored: DataFrame, n: Int, score: String = "cosine",
      high: Boolean = true): DataFrame =
    rankBy(graft.plans.TopK.perGroup(scored, Seq("probe_id"),
      Seq(score -> high, "vec_id" -> false), n), score, high)

  /** Exact cosine top-k (probe_id, vec_id, cosine) — the ONE
    * broadcast-probe exact scan: the probe batch broadcasts against
    * the corpus and the bounded-heap TopK operator cuts candidates to
    * k per probe before any sort (only k rows per probe per partition
    * cross the shuffle). Every recall, MRR and nDCG eval takes its
    * ground truth from here; q270/q271 pass the planted probes.
    */
  private def exactTop(s: SparkSession, dir: String, k: Int = pqTopK,
      probesOpt: Option[DataFrame] = None): DataFrame = {
    val corpus = emb(s, dir)
    val scored = corpus
      .join(broadcast(probesFor(corpus, probesOpt)),  // hint audit: probe-batch-bounded (9-row probe slice)
        col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), probeCosine.as("cosine"))
    graft.plans.TopK.perGroup(scored, Seq("probe_id"),
      Seq("cosine" -> true, "vec_id" -> false), k)
  }

  /** Per-probe top-[[annK]] (probe_id, vec_id, key, cosine, rn) over
    * the candidates that share a probe's routing key: q30/q193's LSH
    * bucket, q37's IVF cell. `probes` carry the key as `p<key>`, one
    * row per probed key. One scan for the ANN gates and for the ANN
    * face of their recall evals.
    */
  private def routedTop(frame: DataFrame, probes: DataFrame,
      key: String): DataFrame =
    rankBy(frame
      .join(broadcast(probes),  // hint audit: probe-batch-bounded (9-row probe slice, x 9 buckets under multi-probe)
        col(key) === col(s"p$key") && col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), col(key),
        probeCosine.as("cosine")))
      .where(col("rn") <= annK)

  /** q193's multi-probe batch: each probe once per bucket of its
    * Hamming-1 ball (its own bucket plus one sign flip per hyperplane).
    */
  private def multiProbes(bucketed: DataFrame): DataFrame =
    sliceProbes(bucketed, explode(array((col("bucket") +:
      (0 until lshPlanes).map(j => col("bucket").bitwiseXOR(lit(1L << j)))): _*))
      .as("pbucket"))

  /** Per-probe recall@k of tier hit lists against the `exact` top-k —
    * ONE rollup for every recall eval. Columns: probe_id, k_exact,
    * then per tier its hit count, its permille, and last the
    * window-derived overall permilles. The single unnamed tier ("")
    * yields n_hits / recall_permille / overall_recall_permille; a
    * named tier t yields n_hits_t / t_recall_permille /
    * overall_t_permille. Every list is ≤ k·|probes| rows: the tier
    * sides broadcast and the rollup never touches the corpus.
    */
  private def recallRollup(exact: DataFrame, k: Int,
      tiers: (String, DataFrame)*): DataFrame = {
    def hits(t: String) = if (t.isEmpty) "n_hits" else s"n_hits_$t"
    // `exact` joins unprojected: its (probe_id, vec_id) projection is
    // the plan q260 caches, and a match would swap this scan for that
    // cache whenever q260 ran earlier in the session
    val joined = tiers.foldLeft(exact) {
      case (df, (t, list)) => df.join(broadcast(list.select(col("probe_id"),  // hint audit: probe-bounded (tier hits, <= probes x k rows)
        col("vec_id"), lit(1L).as(s"hit_$t"))), Seq("probe_id", "vec_id"), "left")
    }
    val names = tiers.map(_._1)
    joined.groupBy("probe_id")
      .agg(count(lit(1)).as("k_exact"), names.map(t =>
        sum(coalesce(col(s"hit_$t"), lit(0L))).as(hits(t))): _*)
      .select(col("*") +: (names.map(t =>
        expr(s"${hits(t)} * 1000 div $k")
          .as(if (t.isEmpty) "recall_permille" else s"${t}_recall_permille")) ++
        names.map(t =>
          expr(s"sum(${hits(t)}) OVER () * 1000 div (count(1) OVER () * $k)")
            .as(s"overall_${if (t.isEmpty) "recall" else t}_permille"))): _*)
      .orderBy("probe_id")
  }

  /** The matryoshka truncated-dim top-k (probe_id, vec_id) — ONE
    * definition for the q251 gate and the q260 scoreboard.
    */
  private def mrlTop(s: SparkSession, dir: String,
      probesOpt: Option[DataFrame] = None): DataFrame = {
    val tr = Tables(s, dir, "embeddings")
      .select(col("vec_id"), slice(col("embedding"), 1, mrlDims).as("te"))
      .withColumn("tn2", norm2(col("te")))
    val tprobes = probesOpt match {
      case None => tr.where(probeSlice(61))
        .select(col("vec_id").as("probe_id"), col("te").as("tpe"),
          col("tn2").as("tpn2"))
      case Some(pp) => pp
        .select(col("probe_id"), slice(col("pvec"), 1, mrlDims).as("tpe"))
        .withColumn("tpn2", norm2(col("tpe")))
    }
    val tscored = tr
      .join(broadcast(tprobes), col("vec_id") =!= col("probe_id"))  // hint audit: probe-batch-bounded (9-row probe slice)
      .select(col("probe_id"), col("vec_id"),
        cosineFrom(dot(col("tpe"), col("te")), col("tpn2"), col("tn2"))
          .as("tcos"))
    graft.plans.TopK.perGroup(tscored, Seq("probe_id"),
      Seq("tcos" -> true, "vec_id" -> false), pqTopK)
      .select(col("probe_id"), col("vec_id"))
  }

  /** One 32-bit word of the sign-bit code: bit i set iff component
    * (off + i) is >= 0. A pure scan-stage fold — the whole 64× encode
    * is two projections, no shuffle, no model artifact to fetch.
    */
  private def bqWord(off: Int): Column =
    expr(s"aggregate(transform(slice(embedding, ${off + 1}, $bqWordBits), " +
      "(v, i) -> IF(v >= CAST(0 AS FLOAT), shiftleft(1L, i), 0L)), " +
      "0L, (acc, x) -> acc + x)")

  /** The BQ ranked frame (probe_id, vec_id, hamming, rn ≤ topN) —
    * shared by the q249 gate, q250's recall eval (both at topN = k,
    * the sq8Top contract) and the q254/q255 re-rank cascade (topN =
    * [[pqRerankR]], the shortlist). Symmetric search: the probe is
    * binarized too, so the scan is pure integer XOR+popcount — the
    * cheapest possible candidate pass.
    */
  private[graft] def bqTop(s: SparkSession, dir: String,
      topN: Int = pqTopK,
      probesOpt: Option[DataFrame] = None): DataFrame = {
    val codes = Tables(s, dir, "embeddings")
      .select(col("vec_id"), bqWord(0).as("w0"), bqWord(bqWordBits).as("w1"))
    // planted probe sign bits come off pvec (double); sign(pvec) ≡
    // sign(pmq) by construction (floor preserves the >= 0 split)
    def pvWord(off: Int): Column =
      expr(s"aggregate(transform(slice(pvec, ${off + 1}, $bqWordBits), " +
        "(v, i) -> IF(v >= CAST(0 AS DOUBLE), shiftleft(1L, i), 0L)), " +
        "0L, (acc, x) -> acc + x)")
    val probes = probesOpt match {
      case None => codes.where(probeSlice(61))
        .select(col("vec_id").as("probe_id"),
          col("w0").as("p0"), col("w1").as("p1"))
      case Some(pp) => pp.select(col("probe_id"),
        pvWord(0).as("p0"), pvWord(bqWordBits).as("p1"))
    }
    val scored = codes
      .join(broadcast(probes), col("vec_id") =!= col("probe_id"))  // hint audit: probe-batch-bounded (9-row probe slice)
      .select(col("probe_id"), col("vec_id"),
        expr("CAST(bit_count(w0 ^ p0) + bit_count(w1 ^ p1) AS BIGINT)")
          .as("hamming"))
    rankedTop(scored, topN, "hamming", high = false)
  }

  /** The BQ CTE chain (through the ranked `br`) — mirrors [[bqTop]]:
    * two 32-bit sign-bit words, XOR+popcount hamming, (hamming ASC,
    * vec_id) ranking. DuckDB's indexed list lambda is 1-based, Spark's
    * transform index 0-based — the `i - 1` aligns them bit-for-bit.
    */
  /** The corpus sign-bit words alone (`bc`) — shared by the BQ search
    * chain and the q294/q295 graph build, so the banded sketch is the
    * gated one.
    */
  private lazy val sqlBcCte: String = {
    def word(lo: Int): String =
      s"CAST(list_sum(list_transform(embedding[$lo:${lo + bqWordBits - 1}], " +
        "(v, i) -> CASE WHEN v >= 0 THEN 1::BIGINT << (i - 1) " +
        "ELSE 0::BIGINT END)) AS BIGINT)"
    s"""bc AS (SELECT vec_id, ${word(1)} AS w0,
       |    ${word(bqWordBits + 1)} AS w1
       |  FROM embeddings)""".stripMargin
  }

  private def sqlBqChainFrom(probeCte: String): String = {
    s"""$sqlBcCte,
       |bp AS ($probeCte),
       |bs AS (SELECT p.probe_id, c.vec_id,
       |    CAST(bit_count(xor(c.w0, p.p0))
       |      + bit_count(xor(c.w1, p.p1)) AS BIGINT) AS hamming
       |  FROM bc c JOIN bp p ON c.vec_id <> p.probe_id),
       |br AS (SELECT probe_id, vec_id, hamming,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
       |      ORDER BY hamming, vec_id) AS INTEGER) AS rn
       |  FROM bs)""".stripMargin
  }

  private lazy val sqlBqChain: String = sqlBqChainFrom(
    s"SELECT vec_id AS probe_id, w0 AS p0, w1 AS p1 FROM bc " +
      s"WHERE ${sqlProbeSlice(61)}")

  /** The planted probes' sign-bit words — off `pvec` (double), the
    * same `>= 0` split as the Spark branch.
    */
  private def sqlPlantedBp: String = {
    def pvWord(lo: Int): String =
      s"CAST(list_sum(list_transform(pvec[$lo:${lo + bqWordBits - 1}], " +
        "(v, i) -> CASE WHEN v >= 0 THEN 1::BIGINT << (i - 1) " +
        "ELSE 0::BIGINT END)) AS BIGINT)"
    s"SELECT probe_id, ${pvWord(1)} AS p0, " +
      s"${pvWord(bqWordBits + 1)} AS p1 FROM ppn"
  }

  /** q294/q295 — graph-based ANN (the NSW/HNSW serving family beside
    * the quantization ladder): out-degree cap of the k-NN graph and
    * the greedy-descent hop budget. M = 6 keeps the graph corpus×M
    * edges (HNSW's M is 5-48 in practice); 6 hops bounds the unrolled
    * search in BOTH engines (the walk is monotone — once no neighbor
    * improves, every later hop is a no-op, so a fixed unroll is exact,
    * the q257 greedy-chain device).
    */
  private[graft] val knnM = 6
  private val graphHops = 6
  /** q307 structured-neighborhood fixture — the scale-honesty device
    * for the graph tier: the driver's embeddings are random
    * (structure-free), so walk-recall gains measured on them are
    * entry-limited at large SF ("no amount of build effort conjures
    * paths that do not exist" — SCALE.md round 15). This fixture
    * PLANTS deterministic cluster geometry from vec_id alone, exactly
    * reproducible in both engines with integer arithmetic:
    *
    *   C        = max(25, n div 200)  (bounded cluster size — the
    *              lakeGranFor convention; pairs stay ∝ n·clusterSize,
    *              never n²/C, at any corpus size)
    *   t        = (v mod C)·64 + (j−1)            (j = 1..64, 1-based)
    *   anchor   = ((t·(t+1)) mod 2503) mod 7 − 3  (cluster direction;
    *              2503 prime > any gate/scale C, so no two clusters
    *              share an anchor sequence; t·(t+1) is nonlinear, so
    *              no mod-residue periodicity across dims)
    *   perturb  = (((v+j)·(v+j+1)) mod 1021) mod 13 − 6  (per-member
    *              jitter; the quadratic kills linear-congruence
    *              collisions — no two members of a cluster coincide
    *              below lcm(1021, C) ids apart)
    *   emb[j]   = (4·anchor + perturb) / 64.0     (exact binary
    *              fraction: m ∈ [−18, 18], /64 exact in FLOAT, so
    *              every downstream dot/norm is bit-identical across
    *              engines regardless of summation order)
    *
    * Geometry: anchor part norm² ≈ 1.0, jitter ≈ 0.22 → same-cluster
    * cos ≈ 0.82, cross-cluster |cos| ≲ 0.3; the planted ±150-milli
    * probe noise (norm ≈ 0.69) leaves the source the unique exact-NN
    * of its probe by ≈ 4σ per cluster-mate, while cluster-mates sit
    * close enough that the compressed entry stage genuinely confuses
    * them — the regime where the graph WALK earns its keep.
    */
  private val structDim = 64
  private val structClusterFloor = 25L
  private val structClusterSize = 200L
  private val structAnchorMod = 2503L
  private val structPerturbMod = 1021L
  private def structClustersFor(n: Long): Long =
    math.max(structClusterFloor, n / structClusterSize)
  private def structEmbedding(c: Long): Column = {
    val t1 = s"((vec_id % $c) * 64 + (j - 1))"
    val t2 = s"((vec_id % $c) * 64 + j)"
    expr(
      s"""transform(sequence(1, $structDim), j -> CAST((
         |  4 * (((($t1 * $t2) % $structAnchorMod) % 7) - 3)
         |  + (((((vec_id + j) * (vec_id + j + 1)) % $structPerturbMod)
         |      % 13) - 6)
         |) / 64.0 AS FLOAT))""".stripMargin)
  }
  /** q307's graph cache — the structured serve face's walk. */
  private val lastStructGraph = new graft.util.CacheSlot

  /** The structured fixture as DuckDB CTEs (`scc` + `semb`) — the SQL
    * twin of [[structEmbedding]], shared by every structured-fixture
    * oracle (q307/q311/q316): the caller substitutes
    * `FROM embeddings` → `FROM semb` in its downstream chain.
    */
  private lazy val sqlSembCtes: String = {
    val t1 = "((vec_id % scc.c) * 64 + (j - 1))"
    val t2 = "((vec_id % scc.c) * 64 + j)"
    s"""scc AS (SELECT GREATEST($structClusterFloor,
       |    COUNT(*) // $structClusterSize) AS c FROM embeddings),
       |semb AS MATERIALIZED (SELECT vec_id,
       |    list_transform(range(1, ${structDim + 1}), j -> CAST((
       |      4 * (((($t1 * $t2) % $structAnchorMod) % 7) - 3)
       |      + (((((vec_id + j) * (vec_id + j + 1))
       |          % $structPerturbMod) % 13) - 6)
       |    ) / 64.0 AS FLOAT)) AS embedding, label
       |  FROM embeddings, scc)""".stripMargin
  }

  /** The structured fixture (embeddings.parquet with [[structEmbedding]]
    * vectors), staged as a [[graft.util.Staged.memo]] master keyed by
    * corpus, size, cluster count and the formula moduli — so repeat
    * invocations (Bench's three passes, GraphChain beside the gate)
    * reuse the same files AND the same cached-graph plan (CacheSlot
    * keeps equivalent plans), exactly as q305 reuses the real table.
    */
  private[graft] def structFixtureDir(s: SparkSession, dir: String): String = {
    val base = Tables(s, dir, "embeddings")
    val n = base.count()
    val c = structClustersFor(n)
    Staged.memo(s"graft-struct-$structAnchorMod-$structPerturbMod-$n-$c-" +
        Staged.pathKey(dir)) { stage =>
      base.select(col("vec_id"),
          structEmbedding(c).as("embedding"), col("label"))
        .write.mode("overwrite").parquet(s"$stage/embeddings.parquet")
    }.toString
  }
  /** A deterministic, fixture-derived GRAPH artifact (the structured
    * serve gates' deployed index), staged as a master: the L2/L1 HNSW
    * layer graphs and the diversified base graph are pure functions of
    * the staged fixture and the build constants, and their
    * per-invocation rebuild was q316's remaining cost — a serve tier
    * queries a STORED index; only the build gates (q294/q300/q304,
    * real corpus) time index construction. The key embeds the fixture
    * dir (which itself encodes corpus path, n, cluster count, and the
    * formula moduli) plus every build constant that shapes the graph;
    * content is a deterministic edge SET, so row order in the staged
    * parquet is immaterial to every consumer (walk argmaxes and
    * rollups are order-free).
    */
  private def structGraphDir(s: SparkSession, sd: String, kind: String)
      (build: => DataFrame): String =
    memoParquet(s"graft-structg-$knnM-$knnBandFloor-$kind-" +
      Staged.pathKey(sd))(build)

  /** `build` written as a parquet master under `key`. */
  private def memoParquet(key: String)(build: => DataFrame): String =
    Staged.memo(key)(stage =>
      build.write.mode("overwrite").parquet(stage.toString)).toString

  /** A maintenance gate's STORED INPUT artifact, staged once per
    * (corpus, build constants) and read back like any stored index.
    * The incremental gates (q315/q319/q327/q331) exist to price
    * refresh-∝-delta maintenance of an index a deployment already has
    * on disk; their own comments state that most of their runtime was
    * re-deriving those stored artifacts per invocation (the gate
    * self-containment premise). This applies the round-18-sanctioned
    * fixture-master discipline to them: the artifact is a pure
    * deterministic function of the corpus and the build constants
    * (keyed on all of them plus the corpus row count), the CHANGE
    * DERIVATION and the touched-node recompute stay fully timed, and
    * the from-scratch BUILD gates (q294/q300/q304) still construct
    * everything from parquet every invocation. Kinds:
    *  - basetopm: the full-corpus directed top-M (src, dst, cos) —
    *    q327/q331's stored artifact;
    *  - dtopm: the old-slice (corpus minus the q315 delta) directed
    *    top-M — q315/q319's stored artifact;
    *  - ddiv / dref: the old-slice diversified selection / refined
    *    top-M (both derived FROM the staged dtopm);
    *  - xdiv / xref: the full-corpus diversified selection / refined
    *    top-M (derived FROM the staged basetopm).
    */
  private[graft] def knnStoredArtifact(
      s: SparkSession, dir: String, kind: String): DataFrame = {
    val n = Tables(s, dir, "embeddings").count()
    def key(k: String) =
      s"graft-knnart-$knnM-$knnBandFloor-${ModelOpsQueries.deltaLo}-" +
        s"${ModelOpsQueries.deltaHi}-$delLo-$delHi-$n-$k-" + Staged.pathKey(dir)
    def staged(k: String)(build: => DataFrame): DataFrame =
      s.read.parquet(memoParquet(key(k))(build))
    kind match {
      case "basetopm" =>
        staged("basetopm")(knnBaseTopM(s, dir).select("src", "dst", "cos"))
      case "dtopm" => staged("dtopm")(oldSliceTopM(s, dir, knnBands(s, dir)))
      case "ddiv" => staged("ddiv")(diversifySelect(s, dir,
        knnMergedPool(s, dir, knnStoredArtifact(s, dir, "dtopm"))))
      case "dref" => staged("dref")(knnTopM(
        knnMergedPool(s, dir, knnStoredArtifact(s, dir, "dtopm"))))
      case "xdiv" => staged("xdiv")(diversifySelect(s, dir,
        knnMergedPool(s, dir, knnStoredArtifact(s, dir, "basetopm"))))
      case "xref" => staged("xref")(knnTopM(
        knnMergedPool(s, dir, knnStoredArtifact(s, dir, "basetopm"))))
    }
  }

  /** The staged path for one of the structured gates' graph artifacts
    * (staging it on first use) — the single binding between artifact
    * kind and its build; q307/q316 and the plan-dump tool all resolve
    * through here.
    */
  private[graft] def structGraphDirFor(
      s: SparkSession, sd: String, kind: String): String = kind match {
    case "div" => structGraphDir(s, sd, "div")(knnDiversifiedGraph(s, sd))
    case "l1" => structGraphDir(s, sd, "l1")(hnswLayerGraph(s, sd, 1))
    case "l2" => structGraphDir(s, sd, "l2")(hnswLayerGraph(s, sd, 2))
  }

  /** q294 band-width floor: corpora up to this size band at 8 bits
    * (every gate SF), larger ones at 16 — buckets ≈ n/2^bits stay
    * bounded, so candidate pairs stay ~linear (the [[lakeGranFor]]
    * convention for the graph build; measured 11× → ~2× at the 10×
    * fixture).
    */
  private val knnBandFloor = 8000L
  /** q295 entry points per probe: the ADC (nprobe=1) top-E proposals
    * each seed an independent walk — multi-entry NSW, the deployed
    * shape (single-entry greedy measured FLAT on this structure-free
    * corpus: entry recall = graph recall — a lone walk cannot
    * navigate mutually-near-orthogonal vectors toward the query).
    */
  private val graphEntries = 4
  /** q295's graph cache — the walk references the graph once per hop. */
  private val lastKnnGraph = new graft.util.CacheSlot
  /** q305's graph cache — the diversified serve face's walk. */
  private val lastDivKnnGraph = new graft.util.CacheSlot

  /** The approximate k-NN graph (src, dst) — the navigable-small-world
    * base layer (Malkov & Yashunin, TPAMI 2020 — public), built the
    * way distributed graph-ANN builds actually run: candidate pairs
    * from LSH banding over the q249 sign sketch (8 bands × 8 bits —
    * same-bucket vectors are candidate neighbors; fan-out ∝ true
    * sketch collisions, never corpus²), exact cosine on candidates
    * only (two corpus-fraction equi-joins — unhinted), per-vector
    * top-[[knnM]] via the bounded-heap TopK, then HNSW's reverse-link
    * step (union with flipped edges, distinct) for navigability. At
    * 100 TB every stage is a shuffle on bounded relations: bands ∝
    * corpus×8, candidates ∝ collisions, the graph ∝ corpus×2M — a
    * distributed artifact, never collected.
    */
  /** Banded sign-sketch rows (vec_id, band, bits) — band width grows
    * with the corpus so bucket sizes (and therefore candidate-pair
    * fan-out ≈ n²·bands/2^bits) stay bounded: the lakeGranFor
    * convention — every gate SF sits below the floor, and the
    * fixed-8-bit build measured 11× at 10× data (pairs ∝ n²/256)
    * while real builds add ~log₂(growth) band bits to hold buckets
    * constant. Both engines derive the same two-level rule off
    * COUNT(embeddings). The full corpus is banded once per gate, so
    * every slice a gate bands — q296's old and new slices, q327's
    * survivors — is a `.where` on `vec_id` over these rows (the filter
    * still reaches the scan) at the FULL corpus's width: q296's
    * incremental face must band at the same width as the artifact it
    * patches; a width migration — the rule crossing its floor — forces
    * a rebuild, as re-sharding does in any LSH build.
    */
  private def knnBands(s: SparkSession, dir: String): DataFrame = {
    val corpus = Tables(s, dir, "embeddings")
    bandRows(corpus, corpus.count())
  }

  /** `rows`' banded sign-sketch rows at the width the rule picks for
    * `n` vectors. q316's upper layers pass their own member count: they
    * re-shard at it (a delta/maintenance slice must NOT).
    */
  private def bandRows(rows: DataFrame, n: Long): DataFrame = {
    val codes = rows
      .select(col("vec_id"), bqWord(0).as("w0"), bqWord(bqWordBits).as("w1"))
    val bits = if (n > knnBandFloor) 16 else 8
    val nb = 64 / bits
    val mask = (1L << bits) - 1L
    val bandCols = (0 until nb).map { b =>
      val w = if (b < nb / 2) col("w0") else col("w1")
      struct(lit(b).as("b"),
        shiftright(w, bits * (b % (nb / 2))).bitwiseAND(lit(mask)).as("bits"))
    }
    codes
      .select(col("vec_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("vec_id"), col("bb.b").as("band"), col("bb.bits").as("bits"))
  }

  /** Distinct banded candidate pairs of two band relations. */
  private def knnCandidates(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("vec_id").as("src"), col("band"), col("bits"))
      .join(b.select(col("vec_id").as("dst"), col("band"), col("bits")),
        Seq("band", "bits"))  // unhinted: both sides corpus-scale, fan-out ∝ sketch collisions
      .where(col("src") =!= col("dst"))
      .select("src", "dst").distinct()

  /** Exact cosine on a (src, dst) candidate relation — the only place
    * full-precision vectors are touched, candidate-bounded.
    */
  private[graft] def knnScored(s: SparkSession, dir: String,
      cand: DataFrame): DataFrame = {
    val corpus = emb(s, dir)
    cand
      .join(corpus.select(col("vec_id").as("src"),
        col("embedding").as("se"), col("n2").as("sn2")), Seq("src"))  // unhinted: candidate-side is a corpus fraction
      .join(corpus.select(col("vec_id").as("dst"),
        col("embedding").as("de"), col("n2").as("dn2")), Seq("dst"))  // unhinted: candidate-side is a corpus fraction
      .select(col("src"), col("dst"),
        cosineFrom(dot(col("se"), col("de")), col("sn2"), col("dn2"))
          .as("cos"))
  }

  private def knnTopM(scored: DataFrame): DataFrame =
    graft.plans.TopK.perGroup(scored, Seq("src"),
      Seq("cos" -> true, "dst" -> false), knnM)

  /** HNSW's reverse-link step over the directed top-M edge list. */
  private def knnSymmetrize(topm: DataFrame): DataFrame =
    topm.select("src", "dst")
      .unionByName(topm.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()

  /** The banded build's DIRECTED per-vector top-M edge list (src,
    * dst, cos) — the stored artifact the symmetrized graph, the q296
    * incremental face, and the q300 refinement all derive from.
    */
  private[graft] def knnBaseTopM(s: SparkSession, dir: String): DataFrame = {
    val bands = knnBands(s, dir)
    knnTopM(knnScored(s, dir, knnCandidates(bands, bands)))
  }

  private[graft] def knnGraph(s: SparkSession, dir: String): DataFrame =
    knnSymmetrize(knnBaseTopM(s, dir))

  /** The old slice's (corpus minus the q315 delta) directed top-M
    * (src, dst, cos), banded at the full corpus's width.
    */
  private def oldSliceTopM(s: SparkSession, dir: String,
      bands: DataFrame): DataFrame = {
    val bandsOld = bands.where(!inDelta(col("vec_id")))
    knnTopM(knnScored(s, dir, knnCandidates(bandsOld, bandsOld)))
      .select("src", "dst", "cos")
  }

  /** The q296 merge: the full corpus's directed top-M from the old
    * slice's stored top-M plus every banded pair touching a delta
    * vector (delta × full covers delta-delta and delta→old; old ×
    * delta covers the affected old nodes) — old-old pairs are never
    * re-scored. `bands` is the full corpus's [[knnBands]].
    */
  private def deltaMergedTopM(s: SparkSession, dir: String,
      bands: DataFrame, oldTopM: DataFrame): DataFrame = {
    val bandsOld = bands.where(!inDelta(col("vec_id")))
    val bandsNew = bands.where(inDelta(col("vec_id")))
    val newPairs = knnCandidates(bandsNew, bands)
      .unionByName(knnCandidates(bandsOld, bandsNew))
      .distinct()
    knnTopM(oldTopM.unionByName(knnScored(s, dir, newPairs)))
  }

  /** One NN-descent refinement round (Dong, Charikar & Li, WWW 2011 —
    * public; the step production NSW builds run when wider LSH bands
    * thin the initial candidates): each node scores its current
    * neighbors' NEIGHBORS — "a neighbor of my neighbor is likely my
    * neighbor" — and the per-node top-M is re-cut over (stored edges ∪
    * fresh candidates). Old edges reuse their STORED cosines (the q296
    * merge-and-recut device); only never-seen pairs touch full
    * vectors. Cost at any corpus size: the candidate set is one
    * self-join on the corpus×2M edge list — fan-out ≤ (2M)² = 144
    * pairs per node, independent of both corpus size and band width,
    * which is why this step restores NEIGHBORHOOD QUALITY at
    * production band widths where collision candidates alone go thin
    * (what it does and does not buy for walk recall is measured in
    * SCALE.md — see the q300 gate comment).
    */
  private[graft] def knnRefineTopM(s: SparkSession, dir: String,
      topm: DataFrame): DataFrame =
    knnTopM(knnMergedPool(s, dir, topm))

  /** The NN-descent candidate pool BEFORE any cut: (stored directed
    * edges with their cosines) ∪ (exactly-scored fresh
    * neighbors-of-neighbors pairs). q300 top-M-cuts it; q304 feeds it
    * to the diversifying selection. `srcs` restricts it to a src set:
    * the incremental faces recompute pools ONLY for touched nodes, and
    * the semi-join cuts the NoN expansion's left side before the
    * self-join fans out, so pool cost is ∝ |touched| × (2M)², never
    * corpus-wide.
    */
  private[graft] def knnMergedPool(s: SparkSession, dir: String,
      topm: DataFrame, srcs: Option[DataFrame] = None): DataFrame = {
    val g = knnSymmetrize(topm)
    val gSrc = srcs.fold(g)(f => g.join(f, Seq("src"), "left_semi"))
    val nn = gSrc.select(col("src"), col("dst").as("mid"))
      .join(g.select(col("src").as("mid"), col("dst")),
        Seq("mid"))  // unhinted: both sides are the corpus×2M edge list
      .where(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
    val fresh = nn.join(topm.select("src", "dst"),
      Seq("src", "dst"), "left_anti")
    val topmKept = srcs.fold(topm)(f =>
      topm.join(f, Seq("src"), "left_semi"))
    topmKept.unionByName(knnScored(s, dir, fresh))
  }

  /** The refined k-NN graph: q294's banded build + one NN-descent
    * round, re-symmetrized.
    */
  private[graft] def knnRefinedGraph(
      s: SparkSession, dir: String): DataFrame =
    knnSymmetrize(knnRefineTopM(s, dir, knnBaseTopM(s, dir)))

  /** q304 candidate-pool width: the heuristic considers the top-2M
    * pool candidates per node (HNSW's efConstruction-style slack over
    * the M it will keep); pairwise scoring is ≤ R(R−1)/2 = 66 pairs
    * per node, independent of corpus size.
    */
  private val knnDivR = 2 * knnM

  /** HNSW's SELECT-NEIGHBORS-HEURISTIC (Malkov & Yashunin, TPAMI 2020
    * §4 algorithm 4 — public), distributed: per node, walk the top-R
    * candidate pool in (cos DESC, id) order and KEEP a candidate only
    * if it is closer to the node than to every already-kept neighbor
    * (cos(c, node) > max over kept s of cos(c, s)) — the
    * relative-neighborhood-style pruning that trades raw neighbor
    * quality for DIVERSITY, preserving the long edges greedy descent
    * climbs through (the q300 finding: pure closest-M re-cutting
    * raises neighbor cosines yet clusters the graph). The selection
    * is PER-NODE-LOCAL over bounded state (R candidates + R(R−1)/2
    * pair cosines, both independent of corpus size), so the Spark
    * shape is ONE shuffle to the node grain and a higher-order
    * `aggregate` fold down each node's rank-ordered candidate array —
    * not an iterated join (a 6-round materialized-loop formulation
    * measured 25 s at sf0.1; this single-pass shape ~4 s on the same
    * plans' inputs). Pairwise cosines are scored once per unordered
    * pool pair — the only place vectors are touched. The oracle runs
    * the equivalent unrolled rounds: round-wise
    * lowest-rank-still-eligible ≡ the single pass because
    * ineligibility is monotone (the kept set only grows, so a
    * candidate rejected once is rejected forever).
    */
  private[graft] def knnDiversifiedTopM(
      s: SparkSession, dir: String): DataFrame =
    diversifySelect(s, dir, knnMergedPool(s, dir, knnBaseTopM(s, dir)))

  /** The selection body over an ARBITRARY merged pool — shared by the
    * from-scratch q304 build and the q315 incremental face (which
    * feeds it only the touched nodes' pool slice; the selection is
    * per-src-local, so restriction commutes with it exactly).
    */
  private[graft] def diversifySelect(
      s: SparkSession, dir: String, pool0: DataFrame): DataFrame = {
    val w = Window.partitionBy("src").orderBy(desc("cos"), asc("dst"))
    val pool = pool0.withColumn("rank", row_number().over(w))
      .where(col("rank") <= knnDivR)
    // pairwise cosines among each node's pool, each unordered pair
    // scored once ((x, y) with x < y)
    val pairXY = pool.select(col("src"), col("dst").as("x"))
      .join(pool.select(col("src"), col("dst").as("y")),
        Seq("src"))  // unhinted: both sides are the corpus×R pool
      .where(col("x") < col("y"))
    val pcs = knnScored(s, dir,
      pairXY.select("x", "y").distinct()
        .select(col("x").as("src"), col("y").as("dst")))
      .select(col("src").as("x"), col("dst").as("y"),
        col("cos").as("cxy"))
    // per node: the pair-cosine lookup map (≤ 66 entries) and the
    // rank-ordered candidate array (≤ 12 entries) — bounded state at
    // any corpus size, then the sequential keep/discard pass as an
    // `aggregate` fold (size-capped at M, domination checked against
    // the kept accumulator via the pair map)
    val pairsPerSrc = pairXY.join(pcs, Seq("x", "y"))  // unhinted: both sides corpus-scaled pair relations
      .groupBy("src")
      .agg(map_from_entries(collect_list(struct(
        concat_ws("_", col("x"), col("y")).as("k"), col("cxy"))))
        .as("pc"))
    val cands = pool.groupBy("src")
      .agg(sort_array(collect_list(
        struct(col("rank"), col("dst"), col("cos")))).as("cands"))
    // left join: a node whose pool has a single candidate has no pairs
    cands.join(pairsPerSrc, Seq("src"), "left")
      .select(col("src"), explode(expr(
        s"""aggregate(cands,
           |  cast(array() as array<struct<dst:bigint,cos:double>>),
           |  (acc, c) -> IF(size(acc) < $knnM AND forall(acc,
           |      s -> coalesce(element_at(pc, concat_ws('_',
           |        least(c.dst, s.dst), greatest(c.dst, s.dst))),
           |        cast(-2.0 as double)) < c.cos),
           |    array_append(acc,
           |      named_struct('dst', c.dst, 'cos', c.cos)),
           |    acc))""".stripMargin)).as("kc"))
      .select(col("src"), col("kc.dst").as("dst"), col("kc.cos").as("cos"))
  }

  /** The diversified k-NN graph: heuristic-selected directed edges,
    * re-symmetrized (HNSW keeps reverse links too).
    */
  private[graft] def knnDiversifiedGraph(
      s: SparkSession, dir: String): DataFrame =
    knnSymmetrize(knnDiversifiedTopM(s, dir))

  /** q315's pinned intermediates: the gate's DAG references each of
    * these many times (two diversify selections + the change/touched
    * derivations), and Spark — like any engine — re-evaluates an
    * uncached subtree per reference: the unpinned plan measured 119 s
    * at sf0.01 vs ~6 s for q304 (the Spark-side analog of the DuckDB
    * CTE-reinlining cliff the q307 oracle hit). Every pinned frame is
    * index-sized (edge lists ∝ corpus×M, id sets ≤ corpus), never
    * vectors.
    */
  private val lastDdOldTopM = new graft.util.CacheSlot
  private val lastDdNewTopM = new graft.util.CacheSlot
  private val lastDdTouched = new graft.util.CacheSlot
  private val lastDdTouchedPool = new graft.util.CacheSlot

  /** The touched-node derivation both churn directions share, over the
    * old/new directed top-M pair: touched = E1 ∪ N(E1), returned as
    * (oldTopM, newTopM, touched) with touched pinned in `slot`.
    */
  private def touchedChange(oldTopM: DataFrame, newTopM: DataFrame,
      slot: graft.util.CacheSlot): (DataFrame, DataFrame, DataFrame) = {
    // E1: endpoints of the CHANGED directed edges — the (src, dst)
    // symmetric difference of the two top-M row sets (cosines are
    // pair-deterministic, so the pair set is the complete change
    // signal; arrivals appear because their rows exist only on the new
    // side, deleted nodes because all their rows vanish, and any node
    // whose top-M changed is an endpoint of one of its own changed
    // rows, so Δ1 ⊆ E1)
    val e1 = oldTopM.select("src", "dst")
      .unionByName(newTopM.select("src", "dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("n"))
      .where(col("n") === 1)
      .select(explode(array(col("src"), col("dst"))).as("src"))
      .distinct()
    // one neighbor hop over the UNION of old and new symmetrized
    // graphs — a sound over-approximation (recomputing an unchanged
    // node is wasted work, never a wrong answer): pool(u) can change
    // only via topM(u) (u ∈ E1), an edge at u (u ∈ E1 — a changed
    // symmetrized edge names both endpoints), or an edge at some
    // mid ∈ N(u) (then mid ∈ E1 and u ∈ N(E1))
    val u = knnSymmetrize(oldTopM.select("src", "dst"))
      .unionByName(knnSymmetrize(newTopM.select("src", "dst")))
      .distinct()
    val nbrs = u.join(e1.withColumnRenamed("src", "dst"), Seq("dst"))
      .select("src").distinct()
    (oldTopM, newTopM, slot.swap(e1.unionByName(nbrs).distinct().cache()))
  }

  /** q315's change derivation — the cheap (no-diversify) half:
    * (oldTopM, newTopM, touched). Separated so GraphAnnSpec can pin
    * the passthrough-nonempty property at sf0.1 (where the corpus
    * dwarfs the delta) without paying either diversify selection:
    * passthrough nonempty ⟸ some old node with stored rows is
    * untouched, i.e. oldTopM.srcs ∖ touched ≠ ∅.
    */
  private[graft] def deltaDiversifyChange(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    // stored artifact: the old corpus's directed top-M (cosines
    // included) — STAGED once per corpus ([[knnStoredArtifact]])
    val oldTopM = lastDdOldTopM.swap(
      knnStoredArtifact(s, dir, "dtopm").cache())
    // the q296 merge theorem gives the full-corpus directed top-M
    // without re-scoring old-old pairs
    val newTopM = lastDdNewTopM.swap(
      deltaMergedTopM(s, dir, knnBands(s, dir), oldTopM).cache())
    touchedChange(oldTopM, newTopM, lastDdTouched)
  }

  /** The incremental maintenance step every k-NN maintenance gate runs
    * over a change derivation: the STORED artifact's rows pass through
    * for every untouched node, and touched nodes re-cut (`recut` — the
    * top-M cut or the diversifying selection, both pure per-node
    * functions of the merged pool) over the pool restricted to them
    * (pinned in `poolSlot`). Returns (passthrough, recomputed,
    * touched); GraphAnnSpec pins the split, the gates union the first
    * two.
    */
  private def maintainParts(s: SparkSession, dir: String,
      change: (DataFrame, DataFrame, DataFrame), stored: String,
      poolSlot: graft.util.CacheSlot)(recut: DataFrame => DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val (_, newTopM, touched) = change
    val old = knnStoredArtifact(s, dir, stored)
    val recomputed = recut(poolSlot.swap(
      knnMergedPool(s, dir, newTopM, Some(touched)).cache()))
    (old.join(touched, Seq("src"), "left_anti"), recomputed, touched)
  }

  /** A maintenance gate's output: the maintained directed rows,
    * symmetrized, at q294's node grain.
    */
  private def maintainedRollup(
      parts: (DataFrame, DataFrame, DataFrame)): DataFrame =
    knnRollup(knnSymmetrize(parts._1.unionByName(parts._2)))

  /** q315's (passthrough, recomputed, touched) over the staged old
    * diversified selection.
    */
  private[graft] def deltaDiversifyParts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) =
    maintainParts(s, dir, deltaDiversifyChange(s, dir), "ddiv",
      lastDdTouchedPool)(diversifySelect(s, dir, _))

  /** q327's delete batch: vec_ids [200, 300) — 100 stored vectors,
    * disjoint from the q315 arrival slice ([[ModelOpsQueries.deltaLo]]),
    * present at every SF.
    */
  private[graft] val delLo = 200L
  private[graft] val delHi = 300L

  /** q327's pinned intermediates (the q315 device: the gate's DAG
    * references each frame several times; every one is index-sized).
    */
  private val lastXdOldTopM = new graft.util.CacheSlot
  private val lastXdNewTopM = new graft.util.CacheSlot
  private val lastXdTouched = new graft.util.CacheSlot
  private val lastXdTouchedPool = new graft.util.CacheSlot

  /** q327's change derivation — deletion's counterpart of
    * [[deltaDiversifyChange]]. Deletion is NOT symmetric with
    * insertion at the top-M level: a node whose stored top-M cites a
    * deleted neighbor loses that row, and a candidate its build CUT
    * at rank > M may re-enter — the stored artifact alone cannot
    * answer, so those nodes (T1) re-derive their top-M from their
    * banded candidate set among survivors (collisions are pairwise:
    * deleting vectors removes candidates but never changes other
    * pairs' collisions, so T1's re-band against the survivor slice
    * reproduces the from-scratch candidate set exactly). Every other
    * survivor's stored rows pass through — the deleted ids were
    * ranked below its M-th neighbor, so removing them cannot move
    * the cut. Bands keep the ARTIFACT's width (full-corpus rule —
    * q296's convention; a deletion that crosses the width floor
    * forces a rebuild, as re-sharding does in any LSH build). The
    * touched set is [[touchedChange]]'s: every deleted node lands in
    * E1, so it can never pass through.
    */
  private[graft] def deleteDiversifyChange(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    def isDel(c: Column) = c >= delLo && c < delHi
    // stored artifact: the full-corpus directed top-M with cosines —
    // STAGED once per corpus ([[knnStoredArtifact]]); the deployment
    // has it on disk, and re-deriving it was most of the gate's cost
    val oldTopM = lastXdOldTopM.swap(
      knnStoredArtifact(s, dir, "basetopm").cache())
    // T1: survivors whose stored top-M cites a deleted neighbor
    val t1 = oldTopM.where(isDel(col("dst")) && !isDel(col("src")))
      .select("src").distinct()
    val bandsSurv = knnBands(s, dir).where(!isDel(col("vec_id")))
    val bandsT1 = bandsSurv.join(t1.withColumnRenamed("src", "vec_id"),
      Seq("vec_id"), "left_semi")
    val recompTopM =
      knnTopM(knnScored(s, dir, knnCandidates(bandsT1, bandsSurv)))
    val keptTopM = oldTopM
      .where(!isDel(col("src")) && !isDel(col("dst")))
      .join(t1, Seq("src"), "left_anti")
    val newTopM = lastXdNewTopM.swap(
      keptTopM.unionByName(recompTopM).cache())
    touchedChange(oldTopM, newTopM, lastXdTouched)
  }

  /** q327's (passthrough, recomputed, touched) over the staged
    * full-corpus diversified selection; newTopM carries no deleted id
    * anywhere, so the touched pools and selections are survivor-only
    * by construction.
    */
  private[graft] def deleteDiversifyParts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) =
    maintainParts(s, dir, deleteDiversifyChange(s, dir), "xdiv",
      lastXdTouchedPool)(diversifySelect(s, dir, _))

  /** q295's multi-entry greedy walk over an arbitrary (src, dst)
    * graph relation — shared by the gated q295 (the banded q294
    * graph) and the SCALE.md recall-chain measurement over the q300
    * refined graph (tools.GraphChain). `g` should be cached by the
    * caller: each hop references it once.
    */
  private[graft] def graphSearchOver(s: SparkSession, dir: String,
      g: DataFrame): DataFrame = {
    val pp = plantedProbes(s, dir)
    val corpus = emb(s, dir)
    val entries = ivfPqTopN(s, dir, 1, probesOpt = Some(pp))
      .where(col("rn") <= graphEntries)
      .select(col("probe_id"), col("vec_id").as("entry_id"),
        col("rn").as("entry_rn"))
    val (cur, _) = walkPinned(s, corpus, g,
      walkStart(s, pp, corpus, entries), countCands = false)
    walkRollup(cur)
  }

  /** Materialize a walk frame between hops: the frontier is the
    * serving tier's per-query cursor, bounded by probes × E rows at
    * ANY corpus size — without this each hop's broadcast replays the
    * entire upstream walk lineage (measured 38 s at sf0.1 for the
    * lazy chain; ~3 s materialized). The graph lookups themselves
    * stay distributed joins against the cached graph.
    */
  /** Loud width bound on every walk-coordinator collect (round-18
    * verdict item 8): the boundedness argument for driver-side walk
    * state is ≤ probes × E cursors and ≤ cursors × graph-degree
    * candidates per hop — true for every gated caller at any corpus
    * size, but previously only ASSERTED in comments. A future caller
    * passing an unbounded frontier now fails fast with the bound in
    * the message instead of silently OOMing the driver at scale.
    */
  private val walkFrontierCap = 1 << 16

  private def pinWalk(s: SparkSession, df: DataFrame): DataFrame =
    Staged.local(s, df, walkFrontierCap)  // hint audit: frontier-bounded collect (≤ probes × E rows)

  /** hop-0 walk state for an (probe_id, entry_id, entry_rn) entry
    * relation: each entry seeds one walk cursor at itself, scored
    * against its probe.
    */
  private def walkStart(s: SparkSession, pp: DataFrame,
      corpus: DataFrame, entries: DataFrame): DataFrame =
    pinWalk(s, corpus
      .select(col("vec_id").as("entry_id"), col("embedding").as("ee"),
        col("n2").as("en2"))
      .join(broadcast(pp  // hint audit: probe-bounded (≤ probes × E entry rows)
        .select(col("probe_id"), col("source_id"), col("pvec"),
          col("pn2"))
        .join(entries, Seq("probe_id"))), Seq("entry_id"))
      .select(col("probe_id"), col("source_id"), col("pvec"), col("pn2"),
        col("entry_id"), col("entry_rn"), col("entry_id").as("cur_id"),
        cosineFrom(dot(col("pvec"), col("ee")), col("pn2"), col("en2"))
          .as("cur_cos"),
        lit(0L).as("n_moves")))

  /** [[graphHops]] unrolled greedy steps over `g` from a pinned hop-0
    * frame; returns the final walk frame and (when `countCands`) the
    * total number of neighbor candidates the walks scored — the
    * per-level cost currency q316 prices the ladder in. Counting is
    * opt-in so the hot serve gates (q295/q305/q307) pay no extra
    * jobs.
    */
  private def walkPinned(s: SparkSession, corpus: DataFrame,
      g: DataFrame, start: DataFrame, countCands: Boolean)
      : (DataFrame, Long) = {
    // One distributed lookup per hop: the graph pre-joined with its
    // dst vectors (cached for the walk — the vectors-with-adjacency
    // layout graph-ANN serving actually deploys: a hop reads a node's
    // neighborhood AND the neighbor vectors in one fetch), probed by
    // the broadcast cursor. The previous shape ran three jobs per hop
    // (frontier broadcast over g, candidate scoring over a fresh
    // corpus scan, plus a separate count() when pricing candidate
    // volume — which re-evaluated the scoring subtree); this runs one.
    // The argmax / move fold happens on the COLLECTED candidate set —
    // probe-bounded (≤ probes × E × 2M rows at any corpus size, the
    // same boundedness class as the pinWalk cursor itself), exactly
    // the work a serving coordinator does per hop.
    val gv = g.join(corpus.select(col("vec_id").as("dst"),
        col("embedding").as("de"), col("n2").as("dn2")), Seq("dst"))
      .cache()
    val schema = start.schema
    val iProbe = schema.fieldIndex("probe_id")
    val iEntry = schema.fieldIndex("entry_id")
    val iCurId = schema.fieldIndex("cur_id")
    val iCurCos = schema.fieldIndex("cur_cos")
    val iMoves = schema.fieldIndex("n_moves")
    var curRows = start.collect()  // hint audit: frontier-bounded collect (≤ probes × E rows, pinned already)
    require(curRows.length <= walkFrontierCap,
      s"walkPinned: frontier ${curRows.length} rows exceeds the " +
        s"declared probes×E bound (cap $walkFrontierCap)")
    var nCands = 0L
    try {
      for (_ <- 1 to graphHops) {
        val curKeys = s.createDataFrame(
            java.util.Arrays.asList(curRows: _*), schema)
          .select(col("cur_id").as("src"), col("probe_id"),
            col("entry_id"), col("pvec"), col("pn2"))
        val cand = gv
          .join(broadcast(curKeys), Seq("src"))  // hint audit: cursor-bounded broadcast (≤ probes × E rows)
          .select(col("probe_id"), col("entry_id"), col("dst"),
            cosineFrom(dot(col("pvec"), col("de")), col("pn2"),
              col("dn2")).as("c"))
          .collect()  // hint audit: probe-bounded collect (≤ probes × E × 2M neighbor rows)
        // per-hop candidate bound = frontier × symmetrized degree.
        // Out-degree is exactly ≤ M; reverse-link IN-degree is
        // data-dependent (a clustered fixture can in-link a hub from
        // its whole cluster), so the per-node cap is a generous 4096 —
        // far above any healthy top-M graph, far below anything that
        // could hurt the driver (frontier is probe-bounded), and loud
        // the moment a caller feeds an unbounded relation
        require(cand.length <= curRows.length.toLong * 4096,
          s"walkPinned: ${cand.length} hop candidates for " +
            s"${curRows.length} cursors exceeds the declared " +
            s"frontier×degree bound (${curRows.length.toLong * 4096})")
        if (countCands) nCands += cand.length
        // best per walk, tiebreak (c DESC, dst ASC) — Double.compare is
        // exactly the sort order row_number().over(orderBy(desc("c"),
        // asc("dst"))) used here before the fold moved driver-side
        val best = new java.util.HashMap[(Long, Long), (Long, Double)]
        cand.foreach { r =>
          val k = (r.getLong(0), r.getLong(1))
          val dst = r.getLong(2)
          val c = r.getDouble(3)
          val prev = best.get(k)
          val cmp = if (prev == null) 1
            else java.lang.Double.compare(c, prev._2)
          if (prev == null || cmp > 0 || (cmp == 0 && dst < prev._1))
            best.put(k, (dst, c))
        }
        curRows = curRows.map { r =>
          val b = best.get((r.getLong(iProbe), r.getLong(iEntry)))
          // IEEE > — the same predicate the Column expression
          // (best_cos > cur_cos) evaluated
          if (b != null && b._2 > r.getDouble(iCurCos)) {
            val vs = r.toSeq.toArray
            vs(iCurId) = b._1
            vs(iCurCos) = b._2
            vs(iMoves) = r.getLong(iMoves) + 1L
            new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
              vs, schema): org.apache.spark.sql.Row
          } else r
        }
      }
    } finally gv.unpersist(blocking = false)
    (s.createDataFrame(java.util.Arrays.asList(curRows: _*), schema),
      nCands)
  }

  /** Per-probe evaluation over a finished walk frame: best endpoint
    * across the E walks (cos DESC, then endpoint/entry ASC — two
    * walks can converge to one endpoint) plus the recall columns.
    */
  private def walkRollup(cur: DataFrame): DataFrame = {
    val wWin = Window.partitionBy("probe_id")
      .orderBy(desc("cur_cos"), asc("cur_id"), asc("entry_id"))
    val won = cur.withColumn("wrn", row_number().over(wWin))
    val perProbe = won
      .groupBy("probe_id", "source_id")
      .agg(
        min(when(col("entry_rn") === 1, col("entry_id")))
          .as("entry_top1_id"),
        max((col("entry_id") === col("source_id")).cast("long"))
          .as("entryset_has_source"),
        min(when(col("wrn") === 1, col("cur_id"))).as("final_id"),
        min(when(col("wrn") === 1, col("entry_id")))
          .as("winning_entry_id"),
        min(when(col("wrn") === 1, col("n_moves"))).as("n_moves"))
      .withColumn("entry_was_source",
        (col("entry_top1_id") === col("source_id")).cast("long"))
      .withColumn("found_source",
        (col("final_id") === col("source_id")).cast("long"))
    val all = Window.partitionBy()
    perProbe
      .withColumn("n_e", sum(col("entry_was_source")).over(all))
      .withColumn("n_s", sum(col("entryset_has_source")).over(all))
      .withColumn("n_g", sum(col("found_source")).over(all))
      .withColumn("n_probes", count(lit(1)).over(all))
      .select(col("probe_id"), col("source_id"), col("entry_top1_id"),
        col("winning_entry_id"), col("final_id"), col("n_moves"),
        col("entry_was_source"), col("entryset_has_source"),
        col("found_source"),
        expr("n_e * 1000 div n_probes").as("entry_recall_permille"),
        expr("n_s * 1000 div n_probes").as("entryset_recall_permille"),
        expr("n_g * 1000 div n_probes").as("graph_recall_permille"))
      .orderBy("probe_id")
  }

  /** q316 — deterministic HNSW level assignment (Malkov & Yashunin,
    * TPAMI 2020 §4: each node draws a geometric level at insert time;
    * here the draw is a pure function of vec_id so both engines and
    * every rebuild agree). The hash is the fixture's own quadratic
    * device — (v·(v+5)) mod 1021, then mod 8 / mod 64 for the two
    * upper layers — NOT plain v mod 8: the structured fixture's
    * cluster id is v mod C, and with C ≡ 4 (mod 8) a residue-based
    * level would populate upper layers from only 1/4 of the clusters
    * (a navigation artifact); the quadratic mod a prime decorrelates
    * (nonzero leading coefficient whenever 1021 ∤ C). Occupancy:
    * P(level ≥ 1) = 128/1021 ≈ 1/8, P(level ≥ 2) = 16/1021 ≈ 1/64 —
    * the geometric ladder, nested by construction.
    */
  private val hnswLevelMod = 1021L
  private[graft] def hnswLevel(v: Column): Column = {
    val h = (v * (v + 5L)) % hnswLevelMod
    when(h % 64L === 0L, 2).when(h % 8L === 0L, 1).otherwise(0)
  }
  private def sqlHnswLevel(v: String): String =
    s"CASE WHEN (($v * ($v + 5)) % $hnswLevelMod) % 64 = 0 THEN 2 " +
      s"WHEN (($v * ($v + 5)) % $hnswLevelMod) % 8 = 0 THEN 1 ELSE 0 END"

  /** One upper layer's graph: the banded build restricted to the
    * layer's members, band width from the MEMBER count (each layer
    * re-shards at its own scale — a layer is a corpus in miniature,
    * so the same two-level width rule applies to it, not to the base
    * corpus it is drawn from), ONE NN-descent refinement round (the
    * q300 lesson recurses at every layer: at member counts past the
    * 16-bit floor the collision candidates go thin, and the first
    * unrefined cut measured the ladder at 30‰ entry recall at sf1),
    * top-M re-cut, reverse-linked. Cost at any corpus size: layer ℓ
    * holds ~n/8^ℓ members, its build is the same bounded-collision +
    * (2M)²-per-node shape as the base build at that size.
    */
  private def hnswLayerGraph(s: SparkSession, dir: String,
      level: Int): DataFrame = {
    val members = Tables(s, dir, "embeddings")
      .where(hnswLevel(col("vec_id")) >= level)
    val b = bandRows(members, members.count())
    knnSymmetrize(knnRefineTopM(s, dir,
      knnTopM(knnScored(s, dir, knnCandidates(b, b)))))
  }
  private val lastHnswL1 = new graft.util.CacheSlot
  private val lastHnswL2 = new graft.util.CacheSlot

  /** The q294 gate's node-grain rollup over a (src, dst) graph. */
  private def knnRollup(g: DataFrame): DataFrame =
    g.groupBy(col("src").as("vec_id"))
      .agg(count(lit(1)).as("degree"),
        sum(col("dst")).as("sum_dst"),
        min(col("dst")).as("min_dst"),
        max(col("dst")).as("max_dst"))
      .orderBy("vec_id")

  /** The graph-build CTE chain (through `g`) — mirrors [[knnGraph]]
    * stage for stage off the SHARED `bc` sign words; requires `e` in
    * scope. MATERIALIZED: q295's six hops each reference `g`.
    */
  private lazy val sqlKnnGraphCtes: String = {
    val eCos = sqlCosineFrom(
      sqlDot("ea.embedding", "eb.embedding"), "ea.n2", "eb.n2")
    // the adaptive band width as two WHERE-guarded branches off the
    // same corpus-count rule as the Spark side
    s"""$sqlBcCte,
       |gb AS (
       |  SELECT vec_id, t.b,
       |    ((CASE WHEN t.b < 4 THEN w0 ELSE w1 END)
       |      >> CAST(8 * (t.b % 4) AS INT)) & 255 AS bits
       |  FROM bc, range(0, 8) t(b)
       |  WHERE (SELECT COUNT(*) FROM embeddings) <= $knnBandFloor
       |  UNION ALL
       |  SELECT vec_id, t.b,
       |    ((CASE WHEN t.b < 2 THEN w0 ELSE w1 END)
       |      >> CAST(16 * (t.b % 2) AS INT)) & 65535 AS bits
       |  FROM bc, range(0, 4) t(b)
       |  WHERE (SELECT COUNT(*) FROM embeddings) > $knnBandFloor),
       |gc AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
       |  FROM gb a JOIN gb b ON b.b = a.b AND b.bits = a.bits
       |    AND b.vec_id <> a.vec_id),
       |gs AS (SELECT src, dst, $eCos AS cos
       |  FROM gc JOIN e ea ON ea.vec_id = gc.src
       |  JOIN e eb ON eb.vec_id = gc.dst),
       |gt AS (SELECT src, dst, cos FROM (SELECT src, dst, cos,
       |    ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY cos DESC, dst) AS rn
       |  FROM gs) WHERE rn <= $knnM),
       |g AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM gt UNION ALL SELECT dst, src FROM gt))"""
      .stripMargin
  }

  /** q300's oracle chain: one NN-descent refinement round over the
    * q294 graph — neighbors-of-neighbors candidates (≤ (2M)² per
    * node), fresh pairs scored exactly, merged with the directed
    * top-M's STORED cosines, re-cut, re-symmetrized. Extends
    * [[sqlKnnGraphCtes]] stage for stage with the Spark build.
    */
  private lazy val sqlKnnRefineCtes: String = {
    val rCos = sqlCosineFrom(
      sqlDot("ea.embedding", "eb.embedding"), "ea.n2", "eb.n2")
    s"""$sqlKnnGraphCtes,
       |rnn AS (SELECT DISTINCT g1.src AS src, g2.dst AS dst
       |  FROM g g1 JOIN g g2 ON g2.src = g1.dst
       |  WHERE g2.dst <> g1.src),
       |rfr AS (SELECT src, dst FROM rnn
       |  EXCEPT SELECT src, dst FROM gt),
       |rsc AS (SELECT src, dst, $rCos AS cos
       |  FROM rfr JOIN e ea ON ea.vec_id = rfr.src
       |  JOIN e eb ON eb.vec_id = rfr.dst),
       |rme AS (SELECT src, dst, cos FROM gt
       |  UNION ALL SELECT src, dst, cos FROM rsc),
       |rt AS (SELECT src, dst FROM (SELECT src, dst,
       |    ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY cos DESC, dst) AS rn
       |  FROM rme) WHERE rn <= $knnM),
       |rg AS (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM rt UNION ALL SELECT dst, src FROM rt))"""
      .stripMargin
  }

  /** q304's oracle chain: the heuristic selection over the q300
    * merged pool (`rme`), unrolled exactly as the Spark rounds —
    * pool top-R ranking, pairwise cosines scored once per unordered
    * pair, then per round "lowest-rank candidate neither kept nor
    * dominated by a kept neighbor".
    */
  private lazy val sqlKnnDiversifyCtes: String = {
    val pairCos = sqlCosineFrom(
      sqlDot("ea.embedding", "eb.embedding"), "ea.n2", "eb.n2")
    // eligibility as EXPLICIT joins, not correlated NOT EXISTS: the
    // dominated-by-a-kept-neighbor test correlates on (src, dst, cos)
    // through LEAST/GREATEST join keys, which defeats DuckDB's
    // decorrelation and degenerates to a pl × dpc nested loop —
    // harmless at the gate SFs, a measured >80 GB spill on q307's
    // dense structured fixture at sf1. The violation set (vl$k) and
    // two left-anti joins are hash-joins on equality keys, linear in
    // pl + dpc, and semantically identical (the same rows survive).
    val rounds = (2 to knnM).map { k =>
      s"""vl$k AS (SELECT DISTINCT pl.src, pl.dst FROM pl
         |  JOIN ka${k - 1} k2 ON k2.src = pl.src
         |  JOIN dpc ON dpc.x = LEAST(pl.dst, k2.sel_id)
         |    AND dpc.y = GREATEST(pl.dst, k2.sel_id)
         |  WHERE dpc.cxy >= pl.cos),
         |el$k AS (SELECT pl.* FROM pl
         |  LEFT JOIN ka${k - 1} kk ON kk.src = pl.src
         |    AND kk.sel_id = pl.dst
         |  LEFT JOIN vl$k v ON v.src = pl.src AND v.dst = pl.dst
         |  WHERE kk.sel_id IS NULL AND v.src IS NULL),
         |ks$k AS (SELECT src, dst AS sel_id, cos AS sel_cos FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY src
         |      ORDER BY rank) AS rr FROM el$k) WHERE rr = 1),
         |ka$k AS MATERIALIZED (SELECT * FROM ka${k - 1}
         |  UNION ALL SELECT * FROM ks$k)""".stripMargin
    }.mkString(",\n")
    s"""$sqlKnnRefineCtes,
       |pl AS MATERIALIZED (SELECT src, dst, cos, rank FROM (
       |  SELECT src, dst, cos, ROW_NUMBER() OVER (PARTITION BY src
       |    ORDER BY cos DESC, dst) AS rank
       |  FROM rme) WHERE rank <= $knnDivR),
       |dpx AS (SELECT DISTINCT a.dst AS x, b.dst AS y
       |  FROM pl a JOIN pl b ON b.src = a.src AND a.dst < b.dst),
       |dpc AS MATERIALIZED (SELECT x, y, $pairCos AS cxy
       |  FROM dpx JOIN e ea ON ea.vec_id = dpx.x
       |  JOIN e eb ON eb.vec_id = dpx.y),
       |ka1 AS (SELECT src, dst AS sel_id, cos AS sel_cos FROM pl
       |  WHERE rank = 1),
       |$rounds,
       |dg AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |  SELECT src, sel_id AS dst FROM ka$knnM
       |  UNION ALL SELECT sel_id AS src, src AS dst FROM ka$knnM))"""
      .stripMargin
  }

  /** q257 — MMR diversity re-rank (Carbonell & Goldstein, SIGIR 1998
    * — public): greedy selection over the exact top-[[pqRerankR]]
    * shortlist, step i picking argmax of (rel − max_sim_to_selected)
    * · 0.5 (λ = 0.5; every cosine is the same left-fold double as the
    * Spark/DuckDB expressions, so the argmax is cross-engine
    * deterministic with the vec_id tiebreak). Cost split: scoring +
    * the top-r cut are the corpus-scale ops and stay distributed
    * (broadcast probes, bounded-heap TopK); the greedy itself is the
    * SERVING node's work — O(probes·r·k) sims over the ≤ probes×r
    * collected shortlist (the q37 centroid-fetch collect class). An
    * all-DataFrame greedy (k−1 rounds of join+agg on the ≤180-row
    * cached frame) was measured at 9 s/run of pure job overhead —
    * per-query re-ranking of r candidates is not a cluster job at any
    * corpus size.
    */
  private[graft] def mmrTop(s: SparkSession, dir: String): DataFrame = {
    val sl = exactTop(s, dir, pqRerankR).withColumnRenamed("cosine", "rel")
    val rows = emb(s, dir)
      .join(broadcast(sl), Seq("vec_id"))  // hint audit: probe-bounded (<= probes x r shortlist rows)
      .select(col("probe_id"), col("vec_id"), col("rel"), col("embedding"))
      .collect()  // hint audit: probe-bounded collect (the serving node's re-rank set)
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getSeq[Float](3).toArray))
    // exact left-fold cosine — same summation order as DotProduct, so
    // the doubles (and therefore every tie and argmax) are identical
    def cosD(a: Array[Float], b: Array[Float]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dp += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dp / (math.sqrt(na) * math.sqrt(nb))
    }
    val out = rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (p, arr) =>
        val cands = arr.sortBy(c => (-c._3, c._2))
        val rel = cands.map(c => c._2 -> c._3).toMap
        val vec = cands.map(c => c._2 -> c._4).toMap
        var sel = List(cands.head._2)
        var rem = cands.map(_._2).filterNot(_ == sel.head).toList
        val picks =
          scala.collection.mutable.ListBuffer((p, sel.head, rel(sel.head), 1))
        for (i <- 2 to pqTopK) {
          val pick = rem.map { id =>
            val ms = sel.map(sid => cosD(vec(id), vec(sid))).max
            (id, (rel(id) - ms) * 0.5)
          }.sortBy { case (id, m) => (-m, id) }.head._1
          picks += ((p, pick, rel(pick), i))
          sel = sel :+ pick
          rem = rem.filterNot(_ == pick)
        }
        picks
    }
    import s.implicits._
    out.toDF("probe_id", "vec_id", "rel", "step")
      .orderBy("probe_id", "step")
  }

  /** q203's contamination screen over an ARBITRARY (vec_id, embedding)
    * frame — ONE definition shared by the q203 batch gate and the q218
    * streaming gate, so the screen run live IS the gated one. The eval
    * slice is built from the BATCH corpus read (it is the static,
    * horizon-capped benchmark set); `vecs` may be a streaming frame —
    * every op here is a stateless projection + stream-static broadcast
    * join, legal inside a micro-batch.
    */
  private[graft] def decontamHits(s: SparkSession, dir: String,
      vecs: DataFrame): DataFrame = {
    val isEval = PipelineOpsQueries.isTestDoc(col("vec_id"))
    val eval = emb(s, dir).where(isEval)
      .select(col("vec_id").as("eval_id"), col("embedding").as("pe"),
        col("n2").as("pn2"))
    vecs.select(col("vec_id"), col("embedding"),
        norm2(col("embedding")).as("n2"))
      .where(!isEval)
      .join(broadcast(eval), col("vec_id") =!= col("eval_id"))  // hint audit: eval-horizon-bounded (capped id slice)
      .select(col("vec_id"), col("eval_id"), probeCosine.as("cosine"))
      .where(col("cosine") > nearDupThreshold)
  }

  /** The per-vector rollup over [[decontamHits]] rows (q203's report
    * grain; q218 applies it post-sink to the emitted hits).
    */
  private[graft] def decontamRollup(hits: DataFrame): DataFrame =
    hits.groupBy("vec_id")
      .agg(count(lit(1)).as("n_eval_hits"),
        min(col("eval_id")).as("first_eval_hit"),
        max(col("cosine")).as("max_cosine"))

  /** q208's MRR eval as a parametric frame — same sharing contract as
    * [[pqRecallFrame]]: ONE definition for the q208 gate (default
    * codebook/centroids, nprobe = ivfNprobe) and tools/IndexPipeline
    * (trained artifacts), so the pipeline's MRR stage IS the gated one.
    */
  private[graft] def pqMrrFrame(
      s: SparkSession, dir: String, nprobe: Int,
      cbOpt: Option[Array[Array[Long]]] = None,
      centsOpt: Option[Seq[(Long, Array[Double], Double)]] = None)
      : DataFrame = {
    val exact1 = exactTop(s, dir, 1)
      .select(col("probe_id"), col("vec_id").as("true_id"))
    val ranked = ivfPqTopN(s, dir, nprobe, cbOpt, centsOpt)
      .select(col("probe_id"), col("vec_id").as("true_id"), col("rn"))
    val all = Window.partitionBy()
    exact1.join(broadcast(ranked), Seq("probe_id", "true_id"), "left")  // hint audit: probe-bounded (<= probes x pqTopK ranked rows)
      .select(col("probe_id"), col("true_id"),
        coalesce(col("rn").cast("long"), lit(0L)).as("hit_rank"))
      .withColumn("rr_micro",
        when(col("hit_rank") > 0, expr("1000000 div hit_rank"))
          .otherwise(lit(0L)))
      .withColumn("sum_rr", sum(col("rr_micro")).over(all))
      .withColumn("n_probes", count(lit(1)).over(all))
      .withColumn("mrr_micro", expr("sum_rr div n_probes"))
      .drop("sum_rr", "n_probes")
      .orderBy("probe_id")
  }

  /** q215's nDCG eval as a parametric frame — same contract as
    * [[pqMrrFrame]].
    */
  private[graft] def pqNdcgFrame(
      s: SparkSession, dir: String, nprobe: Int,
      cbOpt: Option[Array[Array[Long]]] = None,
      centsOpt: Option[Seq[(Long, Array[Double], Double)]] = None)
      : DataFrame = {
    val exact = rankBy(exactTop(s, dir))
      .select(col("probe_id"), col("vec_id"), col("rn").as("ex_rn"))
    val approx = ivfPqTopN(s, dir, nprobe, cbOpt, centsOpt)
      .select(col("probe_id"), col("vec_id"), col("rn"))
    val wArr = array(dcgWeightsMicro.map(lit(_)): _*)
    val all = Window.partitionBy()
    approx.join(broadcast(exact), Seq("probe_id", "vec_id"), "left")  // hint audit: probe-bounded (<= probes x k exact rows)
      .select(col("probe_id"),
        (coalesce(lit(pqTopK + 1) - col("ex_rn"), lit(0)).cast("long") *
          element_at(wArr, col("rn"))).as("gain"))
      .groupBy("probe_id")
      .agg(sum(col("gain")).as("dcg_micro"))
      .withColumn("ndcg_permille",
        expr(s"dcg_micro * 1000 div $ndcgIdcgMicro"))
      .withColumn("sum_n", sum(col("ndcg_permille")).over(all))
      .withColumn("n_probes", count(lit(1)).over(all))
      .withColumn("mean_ndcg_permille", expr("sum_n div n_probes"))
      .drop("sum_n", "n_probes")
      .orderBy("probe_id")
  }

  /** vectors + squared norms; probe sets are deterministic id slices. */
  /** The normalized corpus frame. DELIBERATELY UNCACHED (measured,
    * round 19): a one-generation CacheSlot cache here regressed the
    * graph-build family 2-3× (q304 5.7→16.6 s, q305 11.0→21.8 s, q300
    * 2.3→4.7 s at sf0.1) — the InMemoryRelation boundary defeats
    * scan-level column pruning and predicate pushdown on the vector
    * table (probe slices became full cached-table filters; candidate
    * joins deserialize 64-float arrays from the columnar cache slower
    * than parquet re-reads them). The heavy gates pin their own
    * INDEX-SIZED intermediates instead (the q315 device), which is the
    * right layer: cache decisions, not the raw vectors.
    */
  private[queries] def emb(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("n2"))

  /** MATERIALIZED: `e` is referenced a dozen+ times by the larger
    * chains (graph build, refine pool, diversify pairs, six walk
    * hops, ADC); DuckDB re-evaluates plain CTEs per reference, which
    * measured harmless on the sparse random corpus but multiplied to
    * an OOM on q307's dense structured fixture (each copy carries
    * 64-float lists). One evaluation is semantics-identical.
    */
  private[queries] val sqlEmb =
    s"e AS MATERIALIZED (SELECT vec_id, embedding, ${sqlNorm2("embedding")} AS n2 FROM embeddings)"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact top-k: broadcast the probe set, then the custom
    // TopKPerGroup operator (bounded heap, map-side k-row combine)
    // cuts candidates to k per probe BEFORE any sort — only k rows
    // per probe per partition cross the shuffle, vs the window
    // formulation sorting every scored candidate. The row_number
    // window that derives `rn` then runs over <= k rows per probe.
    "q29_cosine_topk" -> ((s, dir) =>
      rankBy(exactTop(s, dir, topK)).orderBy("probe_id", "rn")),

    // Hard-negative mining for contrastive training: per probe, the
    // HIGHEST-cosine candidates that are still below the near-duplicate
    // band (q91's SemDeDup threshold) — similar enough to be hard,
    // distant enough to be true negatives. Same broadcast-probe +
    // bounded-heap shape as q29; the band filter runs in the scan-stage
    // projection BEFORE the heap, so excluded positives never enter the
    // top-k state.
    "q106_hard_negatives" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val scored = corpus
        .join(broadcast(sliceProbes(corpus)), col("vec_id") =!= col("probe_id"))  // hint audit: probe-batch-bounded (9-row probe slice)
        .select(col("probe_id"), col("vec_id"), probeCosine.as("cosine"))
        .where(col("cosine") < hardNegTau)
      rankedTop(scored, topK)
        .orderBy("probe_id", "rn")
    }),

    // Contrastive triplet mining — the training-pair generator for
    // embedding fine-tuning (anchor, positive, negative): per probe,
    // from ONE scored scan (q29's broadcast-probe shape), the
    // highest-cosine SAME-label candidate (the positive) and the
    // highest-cosine OTHER-label candidate (the hard negative — q106's
    // notion made label-aware), plus the margin between them — the
    // number a curriculum thresholds on (a tiny or negative margin
    // marks the probes worth training on). Both argmaxes are
    // conditional struct-MAX aggregates (ties broken by max vec_id —
    // deterministic), so the scan feeds one hash aggregate and no
    // candidate ever ranks beyond what the two maxes retain: unlike a
    // top-k, state per probe is TWO rows at any corpus size.
    "q243_contrastive_triplets" -> ((s, dir) => {
      val corpus = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"),
          norm2(col("embedding")).as("n2"))
      val probes = sliceProbes(corpus, col("label").as("plabel"))
      val scored = corpus
        .join(broadcast(probes), col("vec_id") =!= col("probe_id"))  // hint audit: probe-batch-bounded (9-row probe slice)
        .select(col("probe_id"), col("plabel"), col("vec_id"), col("label"),
          probeCosine.as("cosine"))
      scored.groupBy("probe_id")
        .agg(
          max(when(col("label") === col("plabel"),
            struct(col("cosine"), col("vec_id")))).as("p"),
          max(when(col("label") =!= col("plabel"),
            struct(col("cosine"), col("vec_id")))).as("n"))
        .select(col("probe_id"),
          col("p.vec_id").as("pos_id"), col("p.cosine").as("pos_cos"),
          col("n.vec_id").as("neg_id"), col("n.cosine").as("neg_cos"),
          (col("p.cosine") - col("n.cosine")).as("margin"))
        .orderBy("probe_id")
    }),

    // ANN: probes meet only their own hyperplane-sign bucket
    "q30_ann_lsh" -> ((s, dir) => {
      val bucketed = emb(s, dir).withColumn("bucket", lshBucket(col("embedding")))
      routedTop(bucketed, sliceProbes(bucketed, col("bucket").as("pbucket")),
        "bucket").orderBy("probe_id", "rn")
    }),

    // IVF-flat ANN: vectors assigned to the argmax-cosine centroid
    // cell; probes scan ONLY their own cell — at scale the cell id is
    // the partition key and each probe touches one partition.
    //
    // The centroid codebook is the index's MODEL ARTIFACT (8×64
    // floats): collected once to the driver and folded into the
    // projection as literals, so cell assignment is a pure map over
    // the corpus — zero shuffle, zero window. (The previous
    // formulation crossJoined the broadcast centroids and ranked with
    // a row_number window partitioned by vec_id: a full-corpus
    // shuffle, rows carrying the 64-dim embedding, purely to pick the
    // argmax of 8 broadcast-side cosines.)
    "q37_ann_ivf" -> ((s, dir) => {
      val corpus = emb(s, dir)
      // argmax with the (cosine DESC, c_id ASC) tiebreak as a single
      // lexicographic array_max over struct(cosine, -c_id): each
      // centroid cosine is evaluated exactly once per row (no
      // when-chain subtree duplication). Shared helper — the KMeans
      // trainer refreshes this codebook with the same expression.
      val best = bestCell(col("embedding"), col("n2"), ivfCents(s, dir))
      val cells = corpus.select(col("vec_id"), col("embedding"), col("n2"),
        (-best.getField("nid")).as("cell"))
      routedTop(cells, sliceProbes(cells, col("cell").as("pcell")), "cell")
        .orderBy("probe_id", "rn")
    }),

    // ANN index-quality eval: recall@k of the LSH-bucketed index (q30)
    // against the exact top-k (q29's semantics) per probe, plus the
    // fleet-wide recall — "measure, don't guess" for the ANN tier: the
    // number that decides whether the bucketing is good enough to
    // replace the exact scan. Both lists are ≤k rows per probe (exact
    // via the bounded-heap TopK operator, ANN via its bucket join), so
    // the comparison join and the recall arithmetic are probe-set-sized;
    // the corpus cost is one broadcast-probe scan + one bucket join —
    // the two indexes being compared, nothing more. Integer permille.
    "q131_ann_recall" -> ((s, dir) => {
      val bucketed = emb(s, dir).withColumn("bucket", lshBucket(col("embedding")))
      recallRollup(exactTop(s, dir, annK), annK, "" -> routedTop(bucketed,
        sliceProbes(bucketed, col("bucket").as("pbucket")), "bucket"))
    }),

    // near-dup screen: incoming batch (2% id slice) vs corpus
    // Int8 quantization error audit — the serving-compression op: a
    // symmetric per-dim int8 quantizer (scale = max |value| per dim,
    // the calibration pass every PTQ pipeline runs) applied and
    // measured in EXACT integer micro-units — quantize, dequantize and
    // the |error| are all integer arithmetic on the micro-quantized
    // values, with round-toward-zero on magnitudes so floor (DuckDB)
    // and truncate (JVM) division agree. Two scans by design —
    // calibrate (64-row scale frame), then apply with the scales
    // BROADCAST back; no shuffle ever carries per-value rows beyond
    // the (dim) and (label) rollups.
    "q151_int8_quant" -> ((s, dir) => {
      val micro = 1000000L
      val vals = Tables(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("label"), col("dim"),
          floor(col("v").cast("double") * micro).cast("long").as("m"))
      val scales = vals.groupBy("dim").agg(max(abs(col("m"))).as("s"))
      vals.join(broadcast(scales), "dim")  // hint audit: dimension-bounded (per-dim scale frame, 64 rows)
        .select(col("label"),
          abs(col("m") -
            (when(col("m") < 0, -1L).otherwise(1L) *
              expr("((abs(m) * 127 div s) * s) div 127"))).as("err"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_values"),
          max(col("err")).as("max_err_micro"),
          sum(col("err")).as("s_err"),
          sum(col("err") * col("err")).as("sum_sq_err"))
        .select(col("label"), col("n_values"), col("max_err_micro"),
          expr("s_err div n_values").as("mean_err_micro"),
          col("sum_sq_err"))
        .orderBy("label")
    }),

    // PQ encode: every vector compressed to 8 2-bit codewords (packed
    // into one integer) plus its exact quantization error — the 32×
    // embedding-compression pass an ANN serving tier runs over the
    // full corpus. Pure map: the codebook is literal-folded, argmin
    // per subspace is one lexicographic array_min, NO shuffle beyond
    // the result sort. At 100 TB this is scan-stage codegen over the
    // embedding column; the qerr rollup is the compression-quality
    // audit that decides codebook refresh.
    "q168_pq_encode" -> ((s, dir) =>
      pqEncodeFrame(s, dir, pqCodebook(s, dir)).orderBy("vec_id")),

    // PQ ADC top-k: probes score the WHOLE corpus through its codes —
    // per probe, a 32-entry distance table (subspace × codeword,
    // computed once per probe) and per candidate just 8 table lookups
    // + adds, never a 64-dim float dot product. The asymmetric-
    // distance formulation means the corpus side stays compressed
    // end-to-end; composed with q37's IVF cells this is IVF-PQ, the
    // standard billion-scale ANN layout. Gate = exact integer ADC
    // distances, ranked per probe through the bounded-heap TopK
    // operator (only k rows per probe per partition cross the
    // shuffle).
    "q169_pq_adc_topk" -> ((s, dir) => {
      val cb = pqCodebook(s, dir)
      val base = Tables(s, dir, "embeddings")
        .select(col("vec_id"), milliQ(col("embedding")).as("mq"))
      // The codes frame is MATERIALIZED (cache, one generation via
      // CacheSlot): at a deployment the codes table is the persisted
      // PQ artifact the searcher reads — and the barrier is also
      // load-bearing here: fused whole-stage codegen defers the
      // streamed side's lazily-bound argmin variables into the
      // nested-loop join's inner loop, re-evaluating the full encode
      // tree per PAIR instead of per vector (measured 28 s vs 0.5 s
      // for the pair stage at the 10× fixture).
      val codes = lastPqCodes.swap(base.select(col("vec_id"),
        pqCodes(col("mq"), cb).as("codes")).cache())
      val probes = base.where(probeSlice(61))
        .select(col("vec_id").as("probe_id"), pqTable(col("mq"), cb).as("pd"))
      val scored = codes
        .join(broadcast(probes), col("vec_id") =!= col("probe_id"))  // hint audit: probe-batch-bounded (9-row probe slice carrying 32-long ADC tables)
        .select(col("probe_id"), col("vec_id"), pqAdc.as("adc_dist"))
      rankedTop(scored, pqTopK, "adc_dist", high = false)
        .orderBy("probe_id", "rn")
    }),

    // IVF-PQ: the two index structures COMPOSED — q37's cell routing
    // (a probe scans exactly one cell) over q169's compressed codes
    // (8 table lookups per candidate, corpus never decompressed).
    // This is the standard billion-scale ANN layout (Jégou et al.
    // TPAMI 2011): at 100 TB the cell is the partition key, the codes
    // table is ~2 bytes/vector, and per-probe work is
    // |cell|/|corpus| × the q169 ADC scan. Cell assignment and code
    // assignment are the SAME expressions as q37/q168 (shared
    // helpers), so neither index can drift from its gated single-tier
    // twin; the cell+codes frame is materialized once (CacheSlot —
    // also the q169 codegen barrier, see that query's note). The
    // ranked frame is ONE definition (ivfPqTop) shared with q180's
    // recall gate.
    "q177_ivf_pq_topk" -> ((s, dir) =>
      ivfPqTop(s, dir).orderBy("probe_id", "rn")),

    // The q131 "measure, don't guess" applied to the COMPRESSED tier:
    // recall@k of q177's IVF-PQ ranking against the exact full-scan
    // cosine top-k. This is the number that prices the 32× compression
    // + cell routing in lost neighbors — what decides nprobe/codebook
    // budget before anyone trusts the layout at scale. Both lists are
    // ≤ k·|probes| rows (exact via the bounded-heap TopK, compressed
    // via the shared ivfPqTop frame); the comparison join and recall
    // arithmetic never touch the corpus again.
    "q180_pq_recall" -> ((s, dir) => pqRecallFrame(s, dir, 1)),

    // The nprobe routing knob ACTING on q180's number: identical
    // IVF-PQ layout, but each probe scans its ivfNprobe nearest cells
    // (the shared ivfPqTopN definition — same codes, same ADC tables,
    // same ranking; per-probe cost × nprobe, recall monotone in it,
    // pinned by PqSpec). At 100 TB a probe touches nprobe partitions
    // instead of one — still O(1) in corpus size.
    "q184_ivf_pq_nprobe" -> ((s, dir) =>
      ivfPqTopN(s, dir, ivfNprobe).orderBy("probe_id", "rn")),

    // q180's recall eval re-run at nprobe=ivfNprobe — the go/no-go
    // number AFTER turning the knob, through the same shared frame, so
    // the gated pair (q180, q185) is the engine's own measured
    // recall-vs-cost curve endpoints.
    "q185_pq_recall_nprobe" -> ((s, dir) =>
      pqRecallFrame(s, dir, ivfNprobe)),

    // Rank-sensitive ANN eval: MRR of the exact NEAREST neighbor
    // within the IVF-PQ nprobe-ranked list — the rank-blind recall@k
    // pair (q180/q185) says whether true neighbors appear at all;
    // this says WHERE the single most important one lands, which is
    // what a serving stack that re-ranks the top candidates actually
    // pays for. Ground truth = exact top-1 (the q29 scoring frame
    // through the bounded-heap TopKPerGroup at k=1); ranked list =
    // the SAME shared ivfPqTopN frame the q184 gate measures, so the
    // evaluated index IS the gated one. Reciprocal ranks are exact
    // integer micro-units (1e6 div rank, 0 = missed); the overall
    // mean folds over the bounded probe relation only.
    "q208_ann_mrr" -> ((s, dir) => pqMrrFrame(s, dir, ivfNprobe)),

    // Scalar-quantization (int8) top-k — the second standard
    // compressed serving tier beside PQ: q151's audited quantization
    // scheme run as the SEARCH path (asymmetric: full-precision probe
    // against the dequantized corpus, exact integer dot). 4×
    // compression with per-dim fidelity vs PQ's 32× with subspace
    // codewords — the two gated tiers are the compression/recall
    // trade's standard endpoints, and q226 prices this one the same
    // way q180/q185 price PQ. Scan-stage dequant, broadcast probe
    // batch, bounded-heap top-k.
    "q225_sq8_topk" -> ((s, dir) =>
      sq8Top(s, dir).orderBy("probe_id", "rn")),

    // recall@k of the SQ8 tier against the exact scan — the number
    // that places int8 on the compression/recall curve beside q180
    // (PQ nprobe=1) and q185 (PQ nprobe=4)
    "q226_sq8_recall" -> ((s, dir) =>
      recallRollup(exactTop(s, dir), pqTopK, "" -> sq8Top(s, dir))),

    // Binary-quantization top-k — the third gated compressed tier
    // (64× vs SQ8's 4× and PQ's 32×): sign-bit codes, symmetric
    // XOR+popcount hamming scan. Encode is two scan-stage projections
    // (no codebook, no scales — nothing to fetch or refresh), and the
    // scored scan moves only (vec_id, 2 longs) per row: at cluster
    // scale this is the candidate-generation pass that reads 1/32nd
    // of what the SQ8 scan reads and no float math at all.
    "q249_bq_topk" -> ((s, dir) =>
      bqTop(s, dir).orderBy("probe_id", "rn")),

    // recall@k of the BQ tier against the exact scan — completes the
    // compression/recall curve: q180/q185 (PQ), q226 (SQ8), this
    // (1-bit). The three gated points are exactly what a deployment
    // reads to pick its tier (or to size a BQ-shortlist → re-rank
    // cascade, q229's device with this as the first stage).
    "q250_bq_recall" -> ((s, dir) =>
      recallRollup(exactTop(s, dir), pqTopK, "" -> bqTop(s, dir))),

    // Matryoshka (prefix-dim) truncated search priced against the
    // full-dim exact scan: the corpus is read NARROWER (first 16 of
    // 64 components — a pure column-width cut, no re-encoding, no
    // index artifact), scored with the same exact-fold cosine, and
    // the eval reports per-probe + overall recall@k. Orthogonal to
    // quantization: a deployment composes prefix-dims × SQ8/BQ and
    // reads the two gated curves to pick the operating point.
    "q251_mrl_recall" -> ((s, dir) =>
      recallRollup(exactTop(s, dir), pqTopK, "" -> mrlTop(s, dir))),

    // BQ-shortlist → exact re-rank cascade: q229's IVFADC+R device
    // with the 1-bit tier as the FIRST stage — the hamming scan (pure
    // integer, 1/32nd the bytes of the SQ8 scan) keeps the top-r per
    // probe, then probes×r full-precision fetches re-score with the
    // TRUE cosine and cut to top-k. Shares rerankFrom with q229 (one
    // refine-stage definition) and bqTop with q249 (one candidate
    // definition) — the cascade measured IS the gated tiers composed.
    "q254_bq_rerank" -> ((s, dir) =>
      rerankFrom(s, dir, bqTop(s, dir, pqRerankR))
        .select("probe_id", "vec_id", "cosine", "rn")
        .orderBy("probe_id", "rn")),

    // The cascade eval: recall@k of the re-ranked list and of the raw
    // BQ@k list side by side per probe. Re-rank >= raw is the same
    // structural theorem as q230 (shortlist ⊇ BQ top-k — one ranking
    // truncated at r vs k — and exact re-scoring keeps every true
    // neighbor present), so the gap columns price exactly what the
    // refine stage buys over the 1-bit scan alone.
    "q255_bq_rerank_recall" -> ((s, dir) => {
      val exact = exactTop(s, dir)
      // ONE shortlist frame serves both faces (the q230 device): the
      // raw BQ@k face is the same hamming ranking truncated at k
      val sl = bqTop(s, dir, pqRerankR)
      recallRollup(exact, pqTopK, "rerank" -> rerankFrom(s, dir, sl),
        "bq" -> sl.where(col("rn") <= pqTopK))
    }),

    // MMR diversity re-rank — the serving-side answer to "my top-k
    // are 5 near-copies of each other": greedy selection over the
    // exact top-r shortlist, each step balancing relevance against
    // the max similarity to what's already picked (λ = 0.5). The k−1
    // greedy rounds and the candidate-pair sims all read one CACHED
    // ≤ probes×r-row frame; the corpus is scanned exactly twice
    // regardless of k. The oracle replays the greedy recursion as
    // k−1 nested CTEs — selection IS the gated semantics, not just
    // the final set.
    "q257_mmr_rerank" -> ((s, dir) => mmrTop(s, dir)),

    // Compression-tier scoreboard — the decision table the individual
    // recall gates imply, materialized as ONE gated artifact: overall
    // recall@k vs the exact scan for every served tier, each ranked
    // list through the SAME shared frame its own gate executes
    // (bqTop, rerankFrom, sq8Top, mrlTop, ivfPqTopN, rerankTop).
    // Costs the sum of the tier builds (each is its own gate's plan,
    // the exact list cached across the seven joins); the value is the
    // composition proof — the scoreboard CANNOT drift from the gated
    // tiers because there is no second definition to drift.
    "q260_tier_scoreboard" -> ((s, dir) => {
      val exact = lastScoreboardExact.swap(
        exactTop(s, dir).select("probe_id", "vec_id").cache())
      def recallOf(tier: String, hits: DataFrame): DataFrame =
        exact
          .join(broadcast(hits.withColumn("hit", lit(1L))),  // hint audit: probe-bounded (<= probes x k tier rows)
            Seq("probe_id", "vec_id"), "left")
          .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"),
            count(lit(1)).as("n_exact"))
          .select(lit(tier).as("tier"),
            expr("n_hits * 1000 div n_exact").as("recall_permille"))
      // model artifacts fetched ONCE per invocation (guide §5: these
      // driver collects were repeated per IVF-PQ tier — 3× codebook +
      // 3× centroids per scoreboard run for identical values)
      val cb = pqCodebook(s, dir)
      val cents = ivfCents(s, dir)
      // ONE BQ scored pass: bq1bit is the R-shortlist truncated at k
      // (identical total order — hamming ASC, vec_id ASC — so rows
      // rn ≤ k ARE the top-k), bq_rerank refines the same shortlist
      val bqR = lastScoreboardBq.swap(bqTop(s, dir, pqRerankR).cache())
      Seq(
        ("bq1bit", bqR.where(col("rn") <= pqTopK)
          .select("probe_id", "vec_id")),
        ("bq_rerank", rerankFrom(s, dir, bqR)
          .select("probe_id", "vec_id")),
        ("sq8", sq8Top(s, dir).select("probe_id", "vec_id")),
        ("mrl16", mrlTop(s, dir)),
        ("pq_nprobe1", ivfPqTopN(s, dir, 1, Some(cb), Some(cents))
          .select("probe_id", "vec_id")),
        ("pq_nprobe4", ivfPqTopN(s, dir, ivfNprobe, Some(cb), Some(cents))
          .select("probe_id", "vec_id")),
        ("pq_rerank", rerankFrom(s, dir,
          ivfPqTopN(s, dir, ivfNprobe, Some(cb), Some(cents),
            topN = pqRerankR))
          .select("probe_id", "vec_id")))
        .map { case (t, df) => recallOf(t, df) }
        .reduce(_ unionByName _)
        .orderBy(desc("recall_permille"), asc("tier"))
    }),

    // Planted-truth premise gate: the exact scan, fed the perturbed
    // probes, must recover each probe's SOURCE vector — per probe the
    // exact top-1, where the source landed in the top-k (0 = absent),
    // and the overall planted recall. This is the ground-truth
    // contract q271's ladder prices tiers against: if the exact scan
    // cannot see the plant, no index number downstream means anything.
    // Cost: one corpus scan against the broadcast probe batch (the
    // q29 shape); the perturbation itself is a scan-stage projection.
    "q270_planted_truth" -> ((s, dir) => {
      val pp = plantedProbes(s, dir)
      val ranked = rankBy(exactTop(s, dir, probesOpt = Some(pp)))
      val all = Window.partitionBy()
      ranked
        .join(broadcast(pp.select(col("probe_id"), col("source_id"))),  // hint audit: probe-batch-bounded (9-row probe slice)
          Seq("probe_id"))
        .groupBy("probe_id", "source_id")
        .agg(min(when(col("rn") === 1, col("vec_id"))).as("top1_id"),
          coalesce(min(when(col("vec_id") === col("source_id"), col("rn"))),
            lit(0)).cast("long").as("source_rank"))
        .withColumn("source_is_top1",
          (col("top1_id") === col("source_id")).cast("long"))
        .withColumn("n_hits", sum(col("source_is_top1")).over(all))
        .withColumn("n_probes", count(lit(1)).over(all))
        .withColumn("planted_recall_permille",
          expr("n_hits * 1000 div n_probes"))
        .drop("n_hits", "n_probes")
        .orderBy("probe_id")
    }),

    // The q260 ladder re-priced on STRUCTURED data — every tier list
    // through the SAME shared frame its own gate executes (bqTop,
    // rerankFrom, sq8Top, mrlTop, ivfPqTopN — each parameterized by
    // the probe frame, defaults untouched), scored by whether the
    // PLANTED SOURCE appears in the tier's top-k. q260 stays as the
    // adversarial floor (structureless probes); this is the
    // deployment-shaped number — real corpora have near-duplicate/
    // cluster structure, and an index that cannot find a 0.98-cosine
    // planted neighbor is broken no matter what the random floor
    // says. The 'exact' row is the ceiling (1000 by q270's gate).
    "q271_planted_scoreboard" -> ((s, dir) => {
      val pp = lastPlanted.swap(plantedProbes(s, dir).cache())
      val truth = pp.select(col("probe_id"), col("source_id"))
      def hitOf(tier: String, hits: DataFrame): DataFrame =
        truth
          .join(broadcast(hits  // hint audit: probe-bounded (<= probes x k tier rows)
              .select(col("probe_id"), col("vec_id").as("source_id"))
              .withColumn("hit", lit(1L))),
            Seq("probe_id", "source_id"), "left")
          .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"),
            count(lit(1)).as("n_probes"))
          .select(lit(tier).as("tier"),
            expr("n_hits * 1000 div n_probes").as("recall_permille"))
      // same one-fetch/one-pass discipline as q260: codebook +
      // centroids collected once, the BQ scored pass shared between
      // bq1bit (rn ≤ k truncation) and the bq_rerank shortlist
      val cb = pqCodebook(s, dir)
      val cents = ivfCents(s, dir)
      val bqR = lastScoreboardBq.swap(
        bqTop(s, dir, pqRerankR, Some(pp)).cache())
      Seq(
        ("exact", exactTop(s, dir, probesOpt = Some(pp))
          .select("probe_id", "vec_id")),
        ("bq1bit", bqR.where(col("rn") <= pqTopK)
          .select("probe_id", "vec_id")),
        ("bq_rerank", rerankFrom(s, dir, bqR, Some(pp))
          .select("probe_id", "vec_id")),
        ("sq8", sq8Top(s, dir, Some(pp)).select("probe_id", "vec_id")),
        ("mrl16", mrlTop(s, dir, Some(pp))),
        ("pq_nprobe1", ivfPqTopN(s, dir, 1, Some(cb), Some(cents),
          probesOpt = Some(pp))
          .select("probe_id", "vec_id")),
        ("pq_nprobe4", ivfPqTopN(s, dir, ivfNprobe, Some(cb), Some(cents),
          probesOpt = Some(pp))
          .select("probe_id", "vec_id")),
        ("pq_rerank", rerankFrom(s, dir,
          ivfPqTopN(s, dir, ivfNprobe, Some(cb), Some(cents),
            topN = pqRerankR, probesOpt = Some(pp)), Some(pp))
          .select("probe_id", "vec_id")))
        .map { case (t, df) => hitOf(t, df) }
        .reduce(_ unionByName _)
        .orderBy(desc("recall_permille"), asc("tier"))
    }),

    // GRAPH-based ANN, build face — the k-NN graph underlying the
    // NSW/HNSW serving family (the production-standard tier beside
    // the gated quantization ladder): LSH-band candidates → exact
    // cosine on candidates only → per-vector top-M → reverse links.
    // Gated at the node grain: degree and the neighbor-id
    // sum/min/max per vector — a wrong candidate set, a top-M
    // misorder, or a missed reverse link shifts a row. Build cost at
    // 100 TB: bands ∝ corpus×8, pair fan-out ∝ true sketch
    // collisions (the q91 LSH argument — at larger corpora widen the
    // band bits to hold bucket sizes), graph ∝ corpus×2M — every
    // stage a bounded shuffle, nothing ever all-pairs.
    "q294_knn_graph" -> ((s, dir) => knnRollup(knnGraph(s, dir))),

    // NN-DESCENT refinement of the k-NN graph — the quality-restoring
    // build step for production band widths (see [[knnRefineTopM]]):
    // at sf1 the corpus-scaled 16-bit bands keep the BUILD linear but
    // thin the collision candidates to ~3-entry buckets; one bounded
    // neighbors-of-neighbors round restores per-node neighborhood
    // quality without ever widening the pair fan-out past (2M)² per
    // node. Gated at q294's node grain — degree + neighbor-id
    // sum/min/max per vector — so a missed candidate, a stale stored
    // cosine, or a re-cut misorder shifts a row. The improvement
    // invariant (per-node summed neighbor cosine only rises: the
    // re-cut optimizes over a SUPERSET of pairs) is pinned in
    // GraphAnnSpec. What it buys for SEARCH is measured honestly in
    // SCALE.md (tools.GraphChain, both builds at sf0.1 and sf1):
    // neighborhood quality and walk navigability are DIFFERENT
    // objectives — pure closest-M re-cutting clusters the graph,
    // which is exactly why HNSW ships a diversifying neighbor-select
    // heuristic on top of candidates like these (Malkov & Yashunin
    // 2020 §4, algorithm 4); on the driver's structure-free random
    // embeddings the walk chain is entry-limited at sf1 either way.
    "q300_knn_refine" -> ((s, dir) => knnRollup(knnRefinedGraph(s, dir))),

    // DIVERSIFIED neighbor selection — the production answer to
    // q300's measured finding (quality ≠ navigability): HNSW's
    // select-neighbors heuristic over the SAME merged candidate pool
    // keeps a candidate only when it is closer to the node than to
    // every already-kept neighbor, trading raw neighbor cosine for
    // the spread that preserves greedy descent's long edges (see
    // [[knnDiversifiedTopM]]). Gated at q294's node grain; the
    // sequential pass runs as M bounded distributed rounds
    // (ineligibility is monotone, so round-wise lowest-rank-eligible
    // ≡ the single pass), with pairwise cosines scored once per
    // unordered pool pair (≤ R(R−1)/2 per node at any corpus size).
    // What the diversified graph buys the walk is measured beside
    // the other two builds in SCALE.md (tools.GraphChain).
    "q304_knn_diversify" ->
      ((s, dir) => knnRollup(knnDiversifiedGraph(s, dir))),

    // INCREMENTAL k-NN graph maintenance — the delta-face convention
    // (q138/q258/q272/q273/q286) applied to the graph index: the
    // stored artifact is the old corpus's DIRECTED top-M edge list
    // (cosines included); a delta batch ([deltaLo, deltaHi), the
    // q189 arrival slice) bands against the full corpus, and merged
    // top-M re-cuts only over (old top-M) ∪ (pairs touching a delta
    // vector). Correctness is a small theorem: a new vector can only
    // displace old neighbors DOWNWARD, so any old vector surviving
    // the from-scratch cut was already in the old top-M — merging
    // the two bounded sets and re-cutting reproduces the from-scratch
    // graph EXACTLY, and the oracle is q294's twin VERBATIM
    // (incremental ≡ from-scratch, hash-proven). Maintenance cost ∝
    // |delta| × collisions for scoring plus the index-sized edge-list
    // regroup (the q189 rebuild class) — surviving nodes' full
    // vectors are never re-read and old-old pairs are never
    // re-scored; old edges reuse their STORED cosines. Both faces
    // band at the full corpus's width (see knnBands).
    // (the stored old-slice top-M is rebuilt here: gates are
    // self-contained, q158's premise)
    "q296_delta_knn_graph" -> ((s, dir) => {
      val bands = knnBands(s, dir)
      knnRollup(knnSymmetrize(
        deltaMergedTopM(s, dir, bands, oldSliceTopM(s, dir, bands))))
    }),

    // INCREMENTAL maintenance for the SHIPPED (diversified) build —
    // the q296 delta face covered only the raw banded top-M; the index
    // a deployment actually serves is q304's diversified graph, which
    // without this gate needs a full rebuild per embedding batch. The
    // touched-node theorem that makes refresh ∝ |delta| exact: a
    // node's diversified selection is a pure function of its merged
    // pool; its pool depends on its own directed top-M plus the edges
    // at itself and at its symmetrized neighbors; and a symmetrized
    // edge can only change when one endpoint's directed top-M row set
    // changed. So with E1 = endpoints of the changed directed rows
    // (the (src,dst) symmetric difference — delta arrivals included,
    // since their rows exist only on the new side) and N(·) =
    // neighbors over the UNION of old and new symmetrized graphs,
    // every node outside touched = E1 ∪ N(E1) has a bit-identical
    // pool (stored cosines are pair-deterministic) and its STORED
    // diversified rows pass through untouched — full vectors are
    // never re-read for it. Touched nodes re-run the selection over
    // the pool RESTRICTED to them ([[knnMergedPool]]: the
    // semi-join cuts the NoN fan-out before it happens, so recompute
    // cost is |touched|·(2M)² pool pairs + |touched|·R²/2 pairwise
    // cosines). The oracle is q304's from-scratch twin VERBATIM —
    // incremental ≡ from-scratch, hash-proven (GraphAnnSpec
    // additionally pins that the passthrough set is nonempty and
    // disjoint from the recompute set). Maintenance cost at 100 TB:
    // |changed rows| ∝ |delta| × collisions, touched ≤ 2·|changed| ×
    // (1 + 2M) — bounded fan-out, independent of corpus size — plus
    // the index-sized edge regroup; most of this GATE's runtime is
    // re-deriving the stored artifacts (old top-M + old diversified
    // build) that a deployment already has on disk, the gate
    // self-containment premise (q158). The rebuild-nightly story
    // becomes the same refresh-∝-delta contract as q138/q163/q296.
    "q315_delta_knn_diversify" -> ((s, dir) =>
      maintainedRollup(deltaDiversifyParts(s, dir))),

    // The same delta face for the REFINED build (q300) — the other
    // production candidate q315's comment names: the touched-node
    // theorem is build-agnostic BECAUSE both builds are pure per-node
    // functions of the same merged pool (refine cuts top-M over it,
    // diversify runs the heuristic over its top-R) — so one change
    // derivation (deltaDiversifyChange, cache-shared with q315)
    // serves both, and the refined index gets the identical
    // refresh-∝-delta contract. Oracle is q300's from-scratch twin
    // VERBATIM.
    "q319_delta_knn_refine" -> ((s, dir) =>
      maintainedRollup(maintainParts(s, dir, deltaDiversifyChange(s, dir),
        "dref", lastDdTouchedPool)(knnTopM))),

    // INCREMENTAL MAINTENANCE UNDER DELETION — the other half of the
    // q315/q319 refresh contract: GDPR erasure and retention sweeps
    // delete vectors from a served index, and rebuilding from scratch
    // at every delete batch is exactly the cost the incremental story
    // exists to avoid. Deletion is harder than insertion: a node
    // whose stored top-M cites a deleted neighbor may need to ADMIT a
    // candidate its build cut at rank > M, which the stored artifact
    // cannot answer — those nodes (T1) re-band against the survivor
    // slice (pairwise collisions are deletion-invariant, so that
    // reproduces the from-scratch candidate set exactly); every other
    // survivor's stored rows pass through. From there the
    // touched-node theorem applies verbatim (selection is a pure
    // per-node function of the merged pool; touched = E1 ∪ N(E1)),
    // and the oracle is the from-scratch diversified build over the
    // survivor corpus — q304's twin with the delete batch filtered
    // out, hash-exact. At 100 TB: recompute ∝ (nodes citing the
    // deleted batch) + one graph hop — the same refresh-∝-delta
    // contract as q315, now for both directions of corpus churn.
    "q327_delete_knn_diversify" -> ((s, dir) =>
      maintainedRollup(deleteDiversifyParts(s, dir))),

    // The deletion face for the REFINED build — completing the
    // builds × churn-directions matrix (q315/q319 insertion for
    // both builds, q327 deletion for the diversified): one change
    // derivation (deleteDiversifyChange, cache-shared with q327)
    // serves both builds because both are pure per-node functions of
    // the same merged pool — refine cuts top-M over it, diversify
    // runs the heuristic over its top-R. Oracle is q300's
    // from-scratch twin over the survivor corpus.
    "q331_delete_knn_refine" -> ((s, dir) =>
      maintainedRollup(maintainParts(s, dir, deleteDiversifyChange(s, dir),
        "xref", lastXdTouchedPool)(knnTopM))),

    // Graph-based ANN, serve face — MULTI-ENTRY greedy descent over
    // the q294 graph (NSW's search primitive: hop to the neighbor
    // closest to the query while it improves), entered from the
    // compressed index's proposals (the IVF-PQ nprobe=1 ADC
    // top-[[graphEntries]] — the IVF-entry + graph-refinement hybrid
    // production systems ship; single-entry greedy on a
    // structure-free corpus measured flat, entry recall = graph
    // recall, so the gate prices the tier the way it is deployed:
    // E independent walks, best endpoint by true cosine wins).
    // Evaluated on the planted probes (q270's ground truth) with the
    // value chain separated per probe: entry_was_source (ADC top-1
    // alone), entryset_has_source (any of the E proposals), and
    // found_source (after the walks) — graph recall ≥ entry-set
    // recall is STRUCTURAL here (a walk starting at the source stays:
    // no corpus vector beats cos ≈ 0.82), and the gap columns price
    // exactly what each stage buys: at sf0.1 the chain reads
    // 363 → 424 → 575‰ — the walks recover +151‰ of planted sources
    // the compressed index missed entirely, the recall a deployment
    // ships the graph FOR (at the small SFs the corpus is too sparse
    // for band collisions to route and the chain measures flat —
    // same adversarial-floor caveat as q260 vs q270). The walks are batched and
    // DISTRIBUTED: the frontier (≤ probes × E rows) broadcast-joins
    // the cached graph per hop — at 100 TB a hop is a batched graph
    // lookup; the graph never leaves the cluster (the collected-model
    // q257 serving convention is impossible here: the graph is
    // corpus-sized). A fixed 6-hop unroll is exact because each walk
    // is monotone (no improving neighbor → every later hop no-ops) —
    // both engines run the identical unroll.
    "q295_graph_search" -> ((s, dir) =>
      graphSearchOver(s, dir, lastKnnGraph.swap(knnGraph(s, dir).cache()))),

    // The serve face over the DIVERSIFIED build — the shape that
    // ships at production band widths (q304's graph under q295's
    // identical multi-entry walk, same entries, same unroll, same
    // evaluation): gating it end-to-end means the full
    // build-then-serve path a deployment runs is hash-exact, not
    // just its parts. Recall chains for all three builds are in
    // SCALE.md (tools.GraphChain); at the gate SFs the chain is
    // band-collision-limited exactly as q295's (the q260-vs-q270
    // adversarial-floor caveat).
    "q305_graph_search_diversified" -> ((s, dir) =>
      graphSearchOver(s, dir,
        lastDivKnnGraph.swap(knnDiversifiedGraph(s, dir).cache()))),

    // STRUCTURED-fixture serve face — q305's full build-then-serve
    // path (diversified build, identical multi-entry walk, identical
    // evaluation) run on the [[structEmbedding]] planted-cluster
    // geometry instead of the driver's structure-free random
    // vectors. This is the gate that makes the tier's headline claim
    // ("walks recover sources the compressed entry stage missed")
    // scale-honest: cosine neighborhoods EXIST here at every SF by
    // construction, so entry-vs-graph recall measures the index, not
    // the fixture (SCALE.md carries the tools.GraphChain rows for all
    // three builds at sf0.1/sf1 on the same geometry). Staging is one
    // projection of the embeddings table (vec_id-derived integer
    // arithmetic, data-scale, embarrassingly parallel); every
    // downstream stage is the gated q305 machinery verbatim.
    "q307_graph_structured" -> ((s, dir) => {
      val sd = structFixtureDir(s, dir)
      // the diversified graph is the gate's DEPLOYED INDEX: staged
      // once per fixture ([[structGraphDir]] — round-18 verdict item
      // 3), read like the fixture's own embeddings; q304/q305 still
      // time the build itself on the real corpus
      graphSearchOver(s, sd, lastStructGraph.swap(
        s.read.parquet(structGraphDirFor(s, sd, "div")).cache()))
    }),

    // ROUTER LADDER on the structured fixture — the deployment
    // question q307 raises: the walks recover what the nprobe=1
    // entry stage misses, but so would probing MORE CELLS; which is
    // the better spend? This gate prices the router side: entry /
    // entry-set recall at nprobe = 1 vs nprobe = [[ivfNprobe]] over
    // the SAME planted probes, WITH the candidate volume each level
    // scans (n_candidates = Σ probed-cell occupancy — the ADC scan
    // cost, the currency the tradeoff is paid in). Read beside
    // q307's walk numbers: at sf1 the walk's gains come at frontier
    // cost (probes × E × M lookups per hop), while nprobe=4 pays 4×
    // the ADC scan — the gate makes both sides of the
    // router-vs-graph decision measured, not asserted. The recall
    // stages run through [[ivfPqTopN]] verbatim (the gated index);
    // the cost column reuses the same bestCell/topCellsArr
    // expressions, so occupancy is the index's own assignment.
    "q311_router_ladder_structured" -> ((s, dir) => {
      val sd = structFixtureDir(s, dir)
      val pp = plantedProbes(s, sd)
      val corpus = emb(s, sd)
      val centsD = ivfCents(s, sd)
      val occ = corpus.select(
          (-bestCell(col("embedding"), col("n2"), centsD)
            .getField("nid")).as("cell"))
        .groupBy("cell").agg(count(lit(1)).as("occ"))
      def stage(nprobe: Int): DataFrame = {
        val per = ivfPqTopN(s, sd, nprobe, probesOpt = Some(pp))
          .where(col("rn") <= graphEntries)
          .join(pp.select(col("probe_id"), col("source_id")),
            Seq("probe_id"))
          .groupBy("probe_id", "source_id")
          .agg(
            max((col("vec_id") === col("source_id") &&
              col("rn") === 1).cast("long")).as("e1"),
            max((col("vec_id") === col("source_id")).cast("long"))
              .as("es"))
        val pCells = pp.select(col("probe_id"),
            explode(topCellsArr(col("pvec"), col("pn2"), centsD, nprobe))
              .as("pc"))
          .select(col("probe_id"), (-col("pc.nid")).as("cell"))
        val nCand = pCells.join(occ, Seq("cell"))
          .agg(coalesce(sum(col("occ")), lit(0L))).head().getLong(0)
        per.agg(count(lit(1)).as("n_probes"),
            expr("sum(e1) * 1000 div count(1)")
              .as("entry_recall_permille"),
            expr("sum(es) * 1000 div count(1)")
              .as("entryset_recall_permille"))
          .select(lit(s"np$nprobe").as("stage"),
            lit(nprobe.toLong).as("nprobe"), col("n_probes"),
            lit(nCand).as("n_candidates"),
            col("entry_recall_permille"),
            col("entryset_recall_permille"))
      }
      stage(1).unionByName(stage(ivfNprobe)).orderBy("stage")
    }),

    // MULTI-LAYER HNSW ENTRY LADDER — the design-space answer to
    // q311's finding (the IVF router is the inferior spend: nprobe=4
    // costs 3.7-3.9× the ADC scan and LOWERS entry-set recall at gate
    // SF): Malkov & Yashunin's log-layer hierarchy replaces the
    // router entirely. Levels are a deterministic geometric draw from
    // vec_id ([[hnswLevel]]); each upper layer gets its own banded
    // top-M graph at its own member-count width ([[hnswLayerGraph]]);
    // the search enters at the top layer's first node (min id — the
    // node HNSW would have inserted first), greedily descends layer 2
    // then layer 1 through the SAME pinned walk machinery as every
    // serve gate, and the layer-1 endpoint — expanded with its top
    // (E−1) diversified-graph neighbors by true cosine, HNSW's ef
    // seeding — seeds the standard multi-entry base walk over the
    // UNMODIFIED q307 graph. Output: q307's exact evaluation schema
    // (entry_top1 = the ladder's endpoint, so entry/entry-set/graph
    // recall reads directly against q307's IVF-entered rows) plus the
    // per-level candidate volumes l2/l1_cand_rows — the ladder's
    // entry cost in the same currency as q311's n_candidates (scored
    // vectors), making router-vs-ladder a priced comparison: the
    // ladder scores ~50-100 vectors per probe for its entries where
    // nprobe=1 scans a full cell (~n/16 — 29× more at sf1). The
    // MEASURED verdict (SCALE.md round 17) is honest in the other
    // direction: on this fixture's mutually-near-orthogonal clusters
    // the ladder's single fixed entry has no cosine gradient to
    // descend toward an arbitrary cluster (cross-cluster cosines
    // ≲0.3 regardless of build effort — refined layers lifted
    // 30→60‰ at sf1 but remain far below the router's 90‰ at entry
    // and the IVF-entered walk's 393-484‰ end to end), and its
    // ef-expanded seeds are CORRELATED (one neighborhood) where the
    // router's 4 proposals are independent. Hierarchical navigation
    // needs navigable geometry; a data-dependent router covers the
    // space by construction — which is why production systems ship
    // the hybrid (SPANN), not the pure ladder. At 100 TB the upper
    // layers are n/8^ℓ-sized distributed relations (never collected);
    // every hop is the same frontier-pinned broadcast lookup as
    // q295's.
    "q316_hnsw_ladder_structured" -> ((s, dir) => {
      val sd = structFixtureDir(s, dir)
      val pp = plantedProbes(s, sd)
      val corpus = emb(s, sd)
      // all three graphs are the ladder's DEPLOYED INDEX — staged once
      // per fixture ([[structGraphDir]], round-18 verdict item 3: the
      // per-invocation rebuild of L2/L1/base was this gate's dominant
      // cost), read back like the fixture's embeddings
      val g2 = lastHnswL2.swap(
        s.read.parquet(structGraphDirFor(s, sd, "l2")).cache())
      val g1 = lastHnswL1.swap(
        s.read.parquet(structGraphDirFor(s, sd, "l1")).cache())
      val dg = lastStructGraph.swap(
        s.read.parquet(structGraphDirFor(s, sd, "div")).cache())
      val top = corpus.where(hnswLevel(col("vec_id")) >= 2)
        .agg(min(col("vec_id"))).head().getLong(0)  // hint audit: one-row driver fetch (the global entry point)
      val e2 = pp.select(col("probe_id"))
        .withColumn("entry_id", lit(top))
        .withColumn("entry_rn", lit(1))
      val (c2, vol2) = walkPinned(s, corpus, g2,
        walkStart(s, pp, corpus, e2), countCands = true)
      val e1 = c2.select(col("probe_id"), col("cur_id").as("entry_id"))
        .withColumn("entry_rn", lit(1))
      val (c1, vol1) = walkPinned(s, corpus, g1,
        walkStart(s, pp, corpus, e1), countCands = true)
      // base entry set: the ladder endpoint + its top-(E−1) base-graph
      // neighbors by true cosine to the probe (ef-style seeding)
      val end1 = c1.select(col("probe_id"), col("cur_id").as("src"))
      val nbrFrontier = dg
        .join(broadcast(end1), Seq("src"))  // hint audit: probe-bounded (one endpoint per probe)
        .join(broadcast(pp.select(col("probe_id"), col("pvec"),  // hint audit: probe-bounded (9-row probe slice)
          col("pn2"))), Seq("probe_id"))
        .select(col("probe_id"), col("dst"), col("pvec"), col("pn2"))
      val nbrRanked = corpus
        .select(col("vec_id").as("dst"), col("embedding").as("de"),
          col("n2").as("dn2"))
        .join(broadcast(nbrFrontier), Seq("dst"))  // hint audit: probe-bounded (≤ probes × 2M endpoint-neighbor rows)
        .select(col("probe_id"), col("dst"),
          cosineFrom(dot(col("pvec"), col("de")), col("pn2"), col("dn2"))
            .as("c"))
      val wN = Window.partitionBy("probe_id").orderBy(desc("c"), asc("dst"))
      val eBase = end1.select(col("probe_id"),
          col("src").as("entry_id"), lit(1).as("entry_rn"))
        .unionByName(nbrRanked.withColumn("rn", row_number().over(wN))
          .where(col("rn") <= graphEntries - 1)
          .select(col("probe_id"), col("dst").as("entry_id"),
            (col("rn") + 1).as("entry_rn")))
      val (cb, _) = walkPinned(s, corpus, dg,
        walkStart(s, pp, corpus, eBase), countCands = false)
      walkRollup(cb)
        .withColumn("l1_cand_rows", lit(vol1))
        .withColumn("l2_cand_rows", lit(vol2))
    }),

    // FILTERED vector search — the ubiquitous vector-DB request
    // ("nearest neighbors WHERE label IN (...)") and its standard
    // lesson: PRE-filtering (predicate inside the candidate scan)
    // returns a full top-k from the allowed set, while POST-filtering
    // (global top-k, then predicate) silently returns fewer than k
    // when the neighborhood is dominated by excluded labels. Both
    // faces computed from ONE scored scan (the predicate splits the
    // stream before the bounded heaps), with n_post_surviving
    // reporting exactly how many of the unfiltered top-k would have
    // survived — the measured gap that justifies pre-filter plumbing.
    "q227_filtered_topk" -> ((s, dir) => {
      val corpus = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"), col("label"),
          norm2(col("embedding")).as("n2"))
      val scored = corpus
        .join(broadcast(sliceProbes(corpus)), col("vec_id") =!= col("probe_id"))  // hint audit: probe-batch-bounded (9-row probe slice)
        .select(col("probe_id"), col("vec_id"), col("label"),
          probeCosine.as("cosine"))
      val preRanked = rankedTop(
        scored.where(col("label").isin(filteredLabels: _*)), pqTopK)
        .select(col("probe_id"), col("vec_id"), col("label"),
          col("cosine"), col("rn"))
      val post = graft.plans.TopK.perGroup(scored, Seq("probe_id"),
        Seq("cosine" -> true, "vec_id" -> false), pqTopK)
        .groupBy("probe_id")
        .agg(sum(when(col("label").isin(filteredLabels: _*), 1L)
          .otherwise(0L)).as("n_post_surviving"))
      preRanked.join(broadcast(post), Seq("probe_id"))  // hint audit: probe-bounded (one row per probe)
        .orderBy("probe_id", "rn")
    }),

    // PQ shortlist + exact re-rank — the IVFADC+R two-stage serving
    // path (Jégou et al. ICASSP 2011): the compressed index proposes
    // top-r by ADC score (cheap, whole-corpus), then only those r
    // candidates per probe are re-scored with the TRUE cosine and cut
    // to top-k. The refine stage pays probes×r full-precision fetches
    // — bounded, never a second corpus scan — and recovers every true
    // neighbor the ADC scores misordered INSIDE the shortlist (a
    // per-probe theorem: q230 measures it, PqSpec pins it).
    "q229_pq_rerank" -> ((s, dir) =>
      rerankTop(s, dir).select("probe_id", "vec_id", "cosine", "rn")
        .orderBy("probe_id", "rn")),

    // The re-rank eval: recall@k of the re-ranked list and of the
    // plain ADC@k list (same nprobe) against the exact top-k, side by
    // side per probe. Re-rank recall >= ADC recall is a THEOREM here
    // (shortlist ⊇ ADC top-k, and re-ranking by the true score keeps
    // every exact-top-k member present in the shortlist), so the gap
    // columns price exactly what the refine stage buys — the number
    // that decides whether to ship the second stage.
    "q230_rerank_recall" -> ((s, dir) => {
      val exact = exactTop(s, dir)
      // ONE shortlist frame serves both faces: the plain ADC@k face is
      // the same ranking truncated at k (rn <= k of the top-r), so the
      // codes build runs once and the theorem's premise is structural
      val sl = ivfPqTopN(s, dir, ivfNprobe, topN = pqRerankR)
      recallRollup(exact, pqTopK, "rerank" -> rerankFrom(s, dir, sl),
        "adc" -> sl.where(col("rn") <= pqTopK))
    }),

    // Graded, position-discounted ANN eval: nDCG@k of the IVF-PQ
    // ranked list against the exact top-k — completes the eval
    // triptych (recall@k = set overlap, MRR = best-hit rank, nDCG =
    // whole-list order quality with graded relevance: the exact
    // rank-1 neighbor appearing at approx position 3 scores less than
    // at position 1). The 1/log2(pos+1) discounts are PRE-COMPUTED
    // integer micro-unit literals (floor(1e6/log2(i+1))) shared with
    // the oracle — no runtime log, no cross-engine float risk; IDCG
    // is the same constants' perfect-order fold. Ground truth and
    // ranked list are the SAME shared frames as q208.
    "q215_ann_ndcg" -> ((s, dir) => pqNdcgFrame(s, dir, ivfNprobe)),

    // Incremental PQ-index maintenance — the q163 delta convention
    // applied to the VECTOR tier (previously its one missing face: a
    // daily embedding batch implied re-encoding the corpus). The
    // established corpus's per-cell index (codes + postings + qerr) is
    // a persisted artifact; the delta batch encodes + cell-assigns
    // with the SAME pqCellCodeRows expressions as q168/q37 (one scan
    // of delta vectors — old vectors are never re-read), and the
    // refresh is ONE cell-keyed regroup over the two index relations
    // (a deployment stores the index bucketed by cell, so only the
    // delta shuffles). Delta vec_ids are disjoint from old ones, so
    // merged ≡ from-scratch EXACTLY — and the oracle IS the
    // from-scratch twin, the q157/q163 incremental-equals-from-scratch
    // proof for IVF-PQ. (Here the old index is re-derived from the
    // fixture because the gate must be self-contained — the q158/q164
    // premise.)
    "q186_pq_delta_index" -> ((s, dir) => {
      val cb = pqCodebook(s, dir)
      val corpus = emb(s, dir)
      val centsD = ivfCents(s, dir)
      val oldIdx = pqCellIndex(pqCellCodeRows(
        corpus.where(!inDelta(col("vec_id"))), cb, centsD))
      val deltaIdx = pqCellIndex(pqCellCodeRows(
        corpus.where(inDelta(col("vec_id"))), cb, centsD))
      oldIdx.union(deltaIdx)
        .groupBy("cell")
        .agg(sum(col("n_members")).as("n_members"),
          sum(col("sum_qerr")).as("sum_qerr"),
          sum(col("code_fp")).as("code_fp"),
          array_join(array_sort(flatten(collect_list(col("postings")))), ",")
            .as("postings"))
        .orderBy("cell")
    }),

    // PQ-index UPSERT maintenance — q186's insert face composed with
    // the delete face every real index needs (takedowns, TTL): the
    // persisted per-row codes table (the index's base artifact; the
    // per-cell rollup is a view over it) anti-joins a tombstone set —
    // NO re-encode of surviving vectors, their codes are reused as
    // stored — while the delta batch encodes fresh through the SAME
    // shared expressions; one cell-keyed regroup rebuilds the per-cell
    // index. Deletes and inserts are disjoint row sets, so the result
    // ≡ the from-scratch index over (corpus ∖ tombstones) EXACTLY,
    // and the oracle is that from-scratch twin (q186's SQL with the
    // tombstone filter). At 100 TB: maintenance cost ∝ |tombstones| +
    // |delta| through bucketed-by-cell joins; the corpus's raw vectors
    // are never re-read.
    "q189_pq_index_upsert" -> ((s, dir) => {
      val cb = pqCodebook(s, dir)
      val corpus = emb(s, dir)
      val centsD = ivfCents(s, dir)
      // tombstones arrive as DATA (a takedown list), not a predicate —
      // here a deterministic established-corpus id slice spread across
      // cells; delta inserts never collide with it
      val tombstones = corpus
        .where(col("vec_id") % pqDeleteMod === pqDeleteRem &&
          col("vec_id") < ModelOpsQueries.deltaLo)
        .select("vec_id")
      val oldCodes = pqCellCodeRows(
        corpus.where(!inDelta(col("vec_id"))), cb, centsD)
      // UNHINTED anti-join (the q150 rule): tombstone volume is a
      // corpus fraction in general — stats choose the strategy
      val alive = oldCodes.join(tombstones, Seq("vec_id"), "left_anti")
      val deltaCodes = pqCellCodeRows(
        corpus.where(inDelta(col("vec_id"))), cb, centsD)
      pqCellIndex(alive.union(deltaCodes))
        .select(col("cell"), col("n_members"), col("sum_qerr"),
          col("code_fp"), array_join(col("postings"), ",").as("postings"))
        .orderBy("cell")
    }),

    // PQ codebook refresh — the Lloyd step (q78) applied per SUBSPACE:
    // each vector's subvectors assign to their nearest codeword (the
    // SAME pqBest expression as the q168 encode, so the assignment
    // being refreshed is exactly the gated one), then every
    // (subspace, codeword, dim) recomputes its mean component in
    // integer milli-units. Closes the PQ loop: train (this) → encode
    // (q168) → search (q169/q177) → eval (q180). One scan with a
    // 64-row/vector expand, map-side partials into 256 (m, c, d)
    // keys — the codebook-refresh job a deployment runs when q168's
    // qerr audit or q180's recall says the codewords went stale.
    "q181_pq_refresh" -> ((s, dir) =>
      pqRefreshFrame(s, dir, pqCodebook(s, dir)).orderBy("m", "c", "d")),

    // Residual-PQ encode — the IVFADC accuracy upgrade (Jégou §III):
    // every vector's codes quantize its residual to the assigned
    // centroid, so the 2-bit codewords spend their range on
    // within-cell variation instead of the whole embedding space; the
    // qerr column is directly comparable to q168's (same units) and
    // measures the upgrade. Same scan-stage shape as q168 plus one
    // broadcast-bounded centroid join.
    "q195_res_pq_encode" -> ((s, dir) => {
      val (assigned, cbRes, _, _) = resAssigned(s, dir)
      pqEncoded(assigned, "rq", cbRes, Seq("vec_id", "cell")).orderBy("vec_id")
    }),

    // Residual IVF-PQ search at nprobe — q184's routing over q195's
    // residual codes; the probe's ADC table is rebuilt PER PROBED CELL
    // (its residual depends on the cell — the defining IVFADC
    // subtlety), which the exploded probe batch carries at nprobe ×
    // 32 longs per probe.
    "q196_res_ivf_pq_topk" -> ((s, dir) =>
      resIvfPqTop(s, dir, ivfNprobe).orderBy("probe_id", "rn")),

    // The recall eval for the residual tier at the same nprobe — the
    // number that prices the IVFADC upgrade against q185's
    // raw-vector-PQ endpoint on the same probes. On the RANDOM
    // embedding fixture it prices honestly AGAINST residuals: with no
    // cluster structure a residual x − c(x) is LARGER than x (total
    // qerr rises 595M → 811M at sf0.01) and recall does not improve
    // (44‰, level with q185) — the textbook precondition made
    // measurable: IVFADC pays off exactly when centroids are trained
    // on clustered data so residual norms shrink (the
    // tools/IndexPipeline loop), and this eval is the gate a
    // deployment checks before switching the corpus encoding.
    "q197_res_pq_recall" -> ((s, dir) =>
      recallRollup(exactTop(s, dir), pqTopK,
        "" -> resIvfPqTop(s, dir, ivfNprobe))),

    // IVF cell-balance audit — the index-health number BESIDE q168's
    // qerr: per-cell member share and balance vs the uniform ideal
    // (1000 = perfectly balanced). Unbalanced cells break the
    // per-probe cost model (a probe landing in a fat cell pays its
    // size) and are the signal to retrain the coarse quantizer
    // (ext/KMeans / tools/IndexPipeline). One scan through the SAME
    // shared bestCell assignment as q37, a groupBy onto #cells keys,
    // and windows over the cells-bounded (8-row) aggregate.
    "q192_ivf_cell_balance" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val best = bestCell(col("embedding"), col("n2"), ivfCents(s, dir))
      val perCell = corpus
        .select((-best.getField("nid")).as("cell"))
        .groupBy("cell").agg(count(lit(1)).as("n_members"))
      // windows over the #cells-bounded aggregate (8 rows)
      val all = Window.partitionBy()
      perCell
        .withColumn("total", sum(col("n_members")).over(all))
        .withColumn("n_cells", count(lit(1)).over(all))
        .select(col("cell"), col("n_members"),
          expr("n_members * 1000 div total").as("share_permille"),
          expr("n_members * n_cells * 1000 div total").as("balance_permille"))
        .orderBy("cell")
    }),

    // Multi-probe LSH — q30's index with the knob q131's recall eval
    // exists to inform (Lv et al., VLDB 2007 — public): each probe
    // scans its own bucket PLUS every Hamming-1 neighbor (one sign-bit
    // flip per hyperplane), because a near neighbor's most likely
    // miss-mode is landing one flipped bit away. Candidates are ranked
    // by TRUE cosine, so widening the candidate set provably never
    // loses recall (candidate-superset argument — PqSpec pins it
    // per-probe against q30). Per-probe cost × (planes+1), still O(1)
    // in corpus size; a candidate lives in ONE bucket so the exploded
    // join needs no dedup.
    "q193_ann_multiprobe" -> ((s, dir) => {
      val bucketed = emb(s, dir).withColumn("bucket", lshBucket(col("embedding")))
      routedTop(bucketed, multiProbes(bucketed), "bucket")
        .orderBy("probe_id", "rn")
    }),

    // q131's recall eval re-run over the multi-probe index — the
    // measured payoff of the q193 knob, mirroring how q185 prices
    // q184's. Same probe-bounded comparison shape.
    "q194_multiprobe_recall" -> ((s, dir) => {
      val bucketed = emb(s, dir).withColumn("bucket", lshBucket(col("embedding")))
      recallRollup(exactTop(s, dir, annK), annK,
        "" -> routedTop(bucketed, multiProbes(bucketed), "bucket"))
    }),

    // SEMANTIC decontamination — the embedding face of q73's lexical
    // screen (shingle overlap misses paraphrases; cosine similarity
    // catches them): every training vector is screened against the
    // BROADCAST eval slice (the q73/q96 eval-set convention — modulus
    // AND fixed horizon, so the eval side is O(1) in corpus size), and
    // vectors above the near-dup band report their contamination
    // evidence (hit count, min contaminating eval id, max cosine).
    // At 100 TB this is one corpus scan against a bounded broadcast —
    // the semantic sweep a benchmark-hygiene pass runs beside the
    // lexical one before training.
    "q203_semantic_decontam" -> ((s, dir) =>
      decontamRollup(decontamHits(s, dir,
        Tables(s, dir, "embeddings").select(col("vec_id"), col("embedding"))))
        .orderBy("vec_id")),

    "q31_embedding_neardup" -> ((s, dir) => {
      val corpus = emb(s, dir)
      val probes = corpus.where(probeSlice(50))
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
          col("n2").as("pn2"))
      corpus.join(broadcast(probes), col("vec_id") =!= col("probe_id"))  // hint audit: probe-batch-bounded (9-row probe slice)
        .select(col("probe_id"), col("vec_id"), probeCosine.as("cosine"))
        .where(col("cosine") > nearDupThreshold)
        .orderBy("probe_id", "vec_id")
    }))

  def oracle: Map[String, String] = {
    def cos = sqlCosineFrom(sqlDot("p.pe", "e.embedding"), "p.pn2", "e.n2")
    // the probe's multi-probe bucket list: own bucket + one flip per
    // hyperplane (Hamming-1 ball)
    val mpBuckets = (Seq("bucket") ++ (0 until lshPlanes).map(j =>
      s"xor(bucket, ${1L << j})")).mkString("[", ", ", "]")
    // ---- q270/q271: planted-neighbor eval --------------------------
    val pxCos = sqlCosineFrom(sqlDot("p.pvec", "e.embedding"), "p.pn2", "e.n2")
    val q270Sql =
      s"""WITH $sqlEmb,
         |$sqlPlantedChain,
         |xr AS (SELECT probe_id, source_id, vec_id, rn FROM (
         |  SELECT p.probe_id, p.source_id, e.vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY p.probe_id
         |      ORDER BY $pxCos DESC, e.vec_id) AS rn
         |  FROM ppn p JOIN e ON e.vec_id <> p.probe_id)
         |  WHERE rn <= $pqTopK),
         |ag AS (SELECT probe_id, source_id,
         |    MIN(CASE WHEN rn = 1 THEN vec_id END) AS top1_id,
         |    CAST(COALESCE(MIN(CASE WHEN vec_id = source_id THEN rn END), 0)
         |      AS BIGINT) AS source_rank
         |  FROM xr GROUP BY 1, 2)
         |SELECT probe_id, source_id, top1_id, source_rank,
         |  CAST(CASE WHEN top1_id = source_id THEN 1 ELSE 0 END AS BIGINT)
         |    AS source_is_top1,
         |  CAST(SUM(CASE WHEN top1_id = source_id THEN 1 ELSE 0 END)
         |      OVER () * 1000 // COUNT(*) OVER () AS BIGINT)
         |    AS planted_recall_permille
         |FROM ag ORDER BY probe_id""".stripMargin
    // each tier's planted hit rate is one scalar subquery with its own
    // nested WITH (the q260 device): hits scored by "planted SOURCE in
    // the tier's top-k"
    def plantedScalar(chains: String, hitsSel: String): String =
      s"""(WITH $chains,
         |hits AS ($hitsSel)
         |SELECT CAST(SUM(CASE WHEN h.vec_id IS NOT NULL
         |    THEN 1 ELSE 0 END) * 1000 // COUNT(*) AS BIGINT)
         |FROM ppn LEFT JOIN hits h
         |  ON h.probe_id = ppn.probe_id AND h.vec_id = ppn.source_id)"""
        .stripMargin
    val q271Sql = {
      val rcos = sqlCosineFrom(sqlDot("p2.pvec", "e2.embedding"),
        "p2.pn2", "e2.n2")
      val tcos = sqlCosineFrom(
        sqlDot("tp.pvec", "t.embedding", mrlDims),
        sqlNorm2("tp.pvec", mrlDims), sqlNorm2("t.embedding", mrlDims))
      val adcTop =
        s"""SELECT probe_id, vec_id FROM (
           |  SELECT probe_id, vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY probe_id
           |      ORDER BY adc_dist, vec_id) AS rn
           |  FROM adc) WHERE rn <= $pqTopK""".stripMargin
      def rerankOf(slSel: String): String =
        s"""SELECT probe_id, vec_id FROM (
           |  SELECT sl.probe_id, sl.vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY sl.probe_id
           |      ORDER BY $rcos DESC, sl.vec_id) AS rn
           |  FROM ($slSel) sl
           |  JOIN e e2 ON e2.vec_id = sl.vec_id
           |  JOIN ppn p2 ON p2.probe_id = sl.probe_id)
           |WHERE rn <= $pqTopK""".stripMargin
      val tiers = Seq(
        "exact" -> plantedScalar(s"$sqlEmb, $sqlPlantedChain",
          s"""SELECT probe_id, vec_id FROM (
             |  SELECT p.probe_id, e.vec_id,
             |    ROW_NUMBER() OVER (PARTITION BY p.probe_id
             |      ORDER BY $pxCos DESC, e.vec_id) AS rn
             |  FROM ppn p JOIN e ON e.vec_id <> p.probe_id)
             |WHERE rn <= $pqTopK""".stripMargin),
        "bq1bit" -> plantedScalar(
          s"$sqlPlantedChain, ${sqlBqChainFrom(sqlPlantedBp)}",
          s"SELECT probe_id, vec_id FROM br WHERE rn <= $pqTopK"),
        "bq_rerank" -> plantedScalar(
          s"$sqlEmb, $sqlPlantedChain, ${sqlBqChainFrom(sqlPlantedBp)}",
          rerankOf(s"SELECT probe_id, vec_id FROM br " +
            s"WHERE rn <= $pqRerankR")),
        "sq8" -> plantedScalar(
          s"$sqlPlantedChain, ${sqlSq8ChainFrom(
            "SELECT probe_id, list_transform(pmq, m -> m * 1000) AS pmq " +
              "FROM ppn")}",
          s"SELECT probe_id, vec_id FROM r8 WHERE rn <= $pqTopK"),
        "mrl16" -> plantedScalar(sqlPlantedChain,
          s"""SELECT probe_id, vec_id FROM (
             |  SELECT tp.probe_id, t.vec_id,
             |    ROW_NUMBER() OVER (PARTITION BY tp.probe_id
             |      ORDER BY $tcos DESC, t.vec_id) AS rn
             |  FROM ppn tp
             |  JOIN (SELECT vec_id, embedding FROM embeddings) t
             |    ON t.vec_id <> tp.probe_id)
             |WHERE rn <= $pqTopK""".stripMargin),
        "pq_nprobe1" -> plantedScalar(sqlIvfPqAdcPlantedN(1), adcTop),
        "pq_nprobe4" -> plantedScalar(sqlIvfPqAdcPlantedN(ivfNprobe), adcTop),
        "pq_rerank" -> plantedScalar(sqlIvfPqAdcPlantedN(ivfNprobe),
          rerankOf(
            s"""SELECT probe_id, vec_id FROM (
               |  SELECT probe_id, vec_id,
               |    ROW_NUMBER() OVER (PARTITION BY probe_id
               |      ORDER BY adc_dist, vec_id) AS rn
               |  FROM adc) WHERE rn <= $pqRerankR""".stripMargin)))
      tiers.map { case (t, scalar) =>
        s"SELECT '$t' AS tier, $scalar AS recall_permille"
      }.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
        "\n) ORDER BY recall_permille DESC, tier")
    }
    // q295: hop0 scores the E ADC entry proposals (one walk each, the
    // walk key = (probe_id, entry_id)), then graphHops unrolled
    // greedy steps (the q257 chain device) — each hop's candidates
    // come from the MATERIALIZED graph, the argmax moves only on
    // strict improvement (NULL best on a sink node → stay, both
    // engines); the winner per probe is the endpoint with the best
    // true cosine (endpoint/entry ASC tiebreak — converged walks).
    // hop$i is MATERIALIZED: hop$i references hop${i-1} twice (the
    // carry row and the candidate scan), so plain CTEs inline the
    // whole upstream tree 2^hops times — measured as an OOM on the
    // q307 sf1 oracle; a hop is ≤ probes × E rows, so materializing
    // is free
    def graphSearchSqlOver(graphCtes: String, gName: String) = {
      val hopCos = sqlCosineFrom(
        sqlDot("h.pvec", "e2.embedding"), "h.pn2", "e2.n2")
      val entryCos = sqlCosineFrom(
        sqlDot("p.pvec", "e.embedding"), "p.pn2", "e.n2")
      val base =
        s"""${sqlIvfPqAdcPlantedN(1)},
           |$graphCtes,
           |entry AS (SELECT probe_id, vec_id AS entry_id, rn AS entry_rn
           |  FROM (
           |    SELECT probe_id, vec_id,
           |      ROW_NUMBER() OVER (PARTITION BY probe_id
           |        ORDER BY adc_dist, vec_id) AS rn
           |    FROM adc) WHERE rn <= $graphEntries),
           |hop0 AS MATERIALIZED (SELECT p.probe_id, p.source_id, p.pvec, p.pn2,
           |    en.entry_id, en.entry_rn, en.entry_id AS cur_id,
           |    $entryCos AS cur_cos, CAST(0 AS BIGINT) AS n_moves
           |  FROM ppn p JOIN entry en USING (probe_id)
           |  JOIN e ON e.vec_id = en.entry_id)""".stripMargin
      val hops = (1 to graphHops).map { i =>
        s"""cand$i AS (SELECT h.probe_id, h.entry_id, $gName.dst, $hopCos AS c
           |  FROM hop${i - 1} h JOIN $gName ON $gName.src = h.cur_id
           |  JOIN e e2 ON e2.vec_id = $gName.dst),
           |best$i AS (SELECT probe_id, entry_id, dst, c FROM (
           |    SELECT probe_id, entry_id, dst, c,
           |      ROW_NUMBER() OVER (PARTITION BY probe_id, entry_id
           |        ORDER BY c DESC, dst) AS rn
           |    FROM cand$i) WHERE rn = 1),
           |hop$i AS MATERIALIZED (SELECT h.probe_id, h.source_id, h.pvec, h.pn2,
           |    h.entry_id, h.entry_rn,
           |    CASE WHEN b.c > h.cur_cos THEN b.dst ELSE h.cur_id END
           |      AS cur_id,
           |    CASE WHEN b.c > h.cur_cos THEN b.c ELSE h.cur_cos END
           |      AS cur_cos,
           |    h.n_moves + CASE WHEN b.c > h.cur_cos THEN 1 ELSE 0 END
           |      AS n_moves
           |  FROM hop${i - 1} h
           |  LEFT JOIN best$i b USING (probe_id, entry_id))"""
          .stripMargin
      }
      val fin =
        s"""win AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
           |    ORDER BY cur_cos DESC, cur_id, entry_id) AS wrn
           |  FROM hop$graphHops),
           |pprobe AS (SELECT probe_id, source_id,
           |    MIN(CASE WHEN entry_rn = 1 THEN entry_id END)
           |      AS entry_top1_id,
           |    MAX(CASE WHEN entry_id = source_id THEN 1 ELSE 0 END)
           |      AS entryset_has_source,
           |    MIN(CASE WHEN wrn = 1 THEN cur_id END) AS final_id,
           |    MIN(CASE WHEN wrn = 1 THEN entry_id END)
           |      AS winning_entry_id,
           |    MIN(CASE WHEN wrn = 1 THEN n_moves END) AS n_moves
           |  FROM win GROUP BY 1, 2)""".stripMargin
      ("WITH " + (Seq(base) ++ hops :+ fin).mkString(",\n")) +
        s"""
           |SELECT probe_id, source_id, entry_top1_id, winning_entry_id,
           |  final_id, CAST(n_moves AS BIGINT) AS n_moves,
           |  CAST(CASE WHEN entry_top1_id = source_id THEN 1 ELSE 0 END
           |    AS BIGINT) AS entry_was_source,
           |  CAST(entryset_has_source AS BIGINT) AS entryset_has_source,
           |  CAST(CASE WHEN final_id = source_id THEN 1 ELSE 0 END
           |    AS BIGINT) AS found_source,
           |  CAST(SUM(CASE WHEN entry_top1_id = source_id THEN 1 ELSE 0 END)
           |      OVER () * 1000 // COUNT(*) OVER () AS BIGINT)
           |    AS entry_recall_permille,
           |  CAST(SUM(entryset_has_source)
           |      OVER () * 1000 // COUNT(*) OVER () AS BIGINT)
           |    AS entryset_recall_permille,
           |  CAST(SUM(CASE WHEN final_id = source_id THEN 1 ELSE 0 END)
           |      OVER () * 1000 // COUNT(*) OVER () AS BIGINT)
           |    AS graph_recall_permille
           |FROM pprobe ORDER BY probe_id""".stripMargin
    }
    val q295Sql = graphSearchSqlOver(sqlKnnGraphCtes, "g")
    // the serve face over the DIVERSIFIED build: the identical walk,
    // entered and evaluated the same way, over dg
    val q305Sql = graphSearchSqlOver(sqlKnnDiversifyCtes, "dg")
    Map(
      "q270_planted_truth" -> q270Sql,
      "q271_planted_scoreboard" -> q271Sql,
      "q294_knn_graph" ->
        s"""WITH $sqlEmb,
           |$sqlKnnGraphCtes
           |SELECT src AS vec_id, CAST(COUNT(*) AS BIGINT) AS degree,
           |  CAST(SUM(dst) AS BIGINT) AS sum_dst,
           |  MIN(dst) AS min_dst, MAX(dst) AS max_dst
           |FROM g GROUP BY src ORDER BY vec_id""".stripMargin,
      // incremental ≡ from-scratch: q294's twin VERBATIM
      "q296_delta_knn_graph" ->
        s"""WITH $sqlEmb,
           |$sqlKnnGraphCtes
           |SELECT src AS vec_id, CAST(COUNT(*) AS BIGINT) AS degree,
           |  CAST(SUM(dst) AS BIGINT) AS sum_dst,
           |  MIN(dst) AS min_dst, MAX(dst) AS max_dst
           |FROM g GROUP BY src ORDER BY vec_id""".stripMargin,
      "q295_graph_search" -> q295Sql,
      "q305_graph_search_diversified" -> q305Sql,
      // q305's twin with the corpus swapped for the structured
      // fixture: `semb` mirrors [[structEmbedding]] (same integer
      // arithmetic, DuckDB's 1-based list range = Spark's
      // sequence(1, 64)), and every `FROM embeddings` in the q305
      // chain — probes, sign sketch, IVF-PQ entries, graph build,
      // walk — reads `semb` instead. The substitution is sound
      // because the corpus appears in the chain ONLY as
      // `FROM embeddings` (relation scans and the COUNT(*) width
      // rule); both engines therefore run the identical pipeline on
      // the identical planted geometry.
      "q307_graph_structured" ->
        ("WITH " + sqlSembCtes + ",\n" +
          q305Sql.stripPrefix("WITH ")
            .replace("FROM embeddings", "FROM semb")),
      // one nprobe=4 ADC chain on semb; the nprobe=1 face is the
      // SAME adc restricted to each probe's rank-1 cell (a vector
      // lives in exactly one cell, so the filter reproduces the
      // nprobe=1 scan verbatim — rows AND distances); candidate
      // volume = COUNT(adc) because the planted probe-id offset
      // keeps the self-exclusion from ever firing
      "q311_router_ladder_structured" -> {
        val pCos = sqlCosineFrom(sqlDot("p.pvec", "c.ce"), "p.pn2", "c.cn2")
        def stageSql(name: String, np: Int, rel: String) =
          s"""SELECT '$name' AS stage, CAST($np AS BIGINT) AS nprobe,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ppn) AS n_probes,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $rel) AS n_candidates,
             |  CAST(SUM(e1) * 1000 // COUNT(*) AS BIGINT)
             |    AS entry_recall_permille,
             |  CAST(SUM(es) * 1000 // COUNT(*) AS BIGINT)
             |    AS entryset_recall_permille
             |FROM (SELECT r.probe_id,
             |    MAX(CASE WHEN r.rn = 1 AND r.vec_id = pn.source_id
             |      THEN 1 ELSE 0 END) AS e1,
             |    MAX(CASE WHEN r.vec_id = pn.source_id
             |      THEN 1 ELSE 0 END) AS es
             |  FROM (SELECT probe_id, vec_id,
             |      ROW_NUMBER() OVER (PARTITION BY probe_id
             |        ORDER BY adc_dist, vec_id) AS rn FROM $rel) r
             |  JOIN ppn pn ON pn.probe_id = r.probe_id
             |  WHERE r.rn <= $graphEntries
             |  GROUP BY r.probe_id)""".stripMargin
        val chain = sqlIvfPqAdcPlantedN(ivfNprobe)
          .replace("FROM embeddings", "FROM semb")
        s"""WITH $sqlSembCtes,
           |$chain,
           |pcells1 AS (SELECT probe_id, cell FROM (
           |    SELECT p.probe_id, c.c_id AS cell,
           |      ROW_NUMBER() OVER (PARTITION BY p.probe_id
           |        ORDER BY $pCos DESC, c.c_id) AS rn
           |    FROM ppn p, c) WHERE rn = 1),
           |adc1 AS (SELECT adc.* FROM adc
           |  JOIN pcells1 pc ON pc.probe_id = adc.probe_id
           |    AND pc.cell = adc.cell)
           |SELECT * FROM (
           |${stageSql("np1", 1, "adc1")}
           |UNION ALL
           |${stageSql(s"np$ivfNprobe", ivfNprobe, "adc")}
           |) ORDER BY stage""".stripMargin
      },
      // the ladder's twin: identical levels (the quadratic hash),
      // per-layer banded graphs at member-count width, the same
      // unrolled greedy per layer (carry between layers is
      // bit-identical — cur_cos is always the same cosine formula),
      // the same ef-style base entry expansion, q307's evaluation,
      // and per-level candidate volumes as COUNT over the
      // materialized hop-candidate CTEs (the same rows the Spark
      // walk counts)
      "q316_hnsw_ladder_structured" -> {
        val hopCos = sqlCosineFrom(
          sqlDot("h.pvec", "e2.embedding"), "h.pn2", "e2.n2")
        val entryCos = sqlCosineFrom(
          sqlDot("p.pvec", "e.embedding"), "p.pn2", "e.n2")
        val eCos = sqlCosineFrom(
          sqlDot("ea.embedding", "eb.embedding"), "ea.n2", "eb.n2")
        def layerChain(l: Int): String = {
          val cnt = s"(SELECT COUNT(*) FROM lvm WHERE lv >= $l)"
          s"""l${l}b AS (
             |  SELECT bc.vec_id, t.b,
             |    ((CASE WHEN t.b < 4 THEN w0 ELSE w1 END)
             |      >> CAST(8 * (t.b % 4) AS INT)) & 255 AS bits
             |  FROM bc, lvm, range(0, 8) t(b)
             |  WHERE lvm.vec_id = bc.vec_id AND lvm.lv >= $l
             |    AND $cnt <= $knnBandFloor
             |  UNION ALL
             |  SELECT bc.vec_id, t.b,
             |    ((CASE WHEN t.b < 2 THEN w0 ELSE w1 END)
             |      >> CAST(16 * (t.b % 2) AS INT)) & 65535
             |  FROM bc, lvm, range(0, 4) t(b)
             |  WHERE lvm.vec_id = bc.vec_id AND lvm.lv >= $l
             |    AND $cnt > $knnBandFloor),
             |l${l}c AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
             |  FROM l${l}b a JOIN l${l}b b ON b.b = a.b AND b.bits = a.bits
             |    AND b.vec_id <> a.vec_id),
             |l${l}s AS (SELECT src, dst, $eCos AS cos
             |  FROM l${l}c JOIN e ea ON ea.vec_id = l${l}c.src
             |  JOIN e eb ON eb.vec_id = l${l}c.dst),
             |l${l}t AS (SELECT src, dst, cos FROM (SELECT src, dst, cos,
             |    ROW_NUMBER() OVER (PARTITION BY src
             |      ORDER BY cos DESC, dst) AS rn
             |  FROM l${l}s) WHERE rn <= $knnM),
             |l${l}g0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
             |  SELECT src, dst FROM l${l}t
             |  UNION ALL SELECT dst, src FROM l${l}t)),
             |l${l}nn AS (SELECT DISTINCT g1.src AS src, g2.dst AS dst
             |  FROM l${l}g0 g1 JOIN l${l}g0 g2 ON g2.src = g1.dst
             |  WHERE g2.dst <> g1.src),
             |l${l}fr AS (SELECT src, dst FROM l${l}nn
             |  EXCEPT SELECT src, dst FROM l${l}t),
             |l${l}sc AS (SELECT src, dst, $eCos AS cos
             |  FROM l${l}fr JOIN e ea ON ea.vec_id = l${l}fr.src
             |  JOIN e eb ON eb.vec_id = l${l}fr.dst),
             |l${l}me AS (SELECT src, dst, cos FROM l${l}t
             |  UNION ALL SELECT src, dst, cos FROM l${l}sc),
             |l${l}rt AS (SELECT src, dst FROM (SELECT src, dst,
             |    ROW_NUMBER() OVER (PARTITION BY src
             |      ORDER BY cos DESC, dst) AS rn
             |  FROM l${l}me) WHERE rn <= $knnM),
             |l${l}g AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
             |  SELECT src, dst FROM l${l}rt
             |  UNION ALL SELECT dst, src FROM l${l}rt))""".stripMargin
        }
        def hops(prefix: String, gName: String): String =
          (1 to graphHops).map { i =>
            s"""${prefix}cand$i AS MATERIALIZED (SELECT h.probe_id,
               |    h.entry_id, $gName.dst, $hopCos AS c
               |  FROM ${prefix}hop${i - 1} h
               |  JOIN $gName ON $gName.src = h.cur_id
               |  JOIN e e2 ON e2.vec_id = $gName.dst),
               |${prefix}best$i AS (SELECT probe_id, entry_id, dst, c
               |  FROM (SELECT probe_id, entry_id, dst, c,
               |      ROW_NUMBER() OVER (PARTITION BY probe_id, entry_id
               |        ORDER BY c DESC, dst) AS rn
               |    FROM ${prefix}cand$i) WHERE rn = 1),
               |${prefix}hop$i AS MATERIALIZED (SELECT h.probe_id,
               |    h.source_id, h.pvec, h.pn2, h.entry_id, h.entry_rn,
               |    CASE WHEN b.c > h.cur_cos THEN b.dst ELSE h.cur_id END
               |      AS cur_id,
               |    CASE WHEN b.c > h.cur_cos THEN b.c ELSE h.cur_cos END
               |      AS cur_cos,
               |    h.n_moves + CASE WHEN b.c > h.cur_cos THEN 1 ELSE 0 END
               |      AS n_moves
               |  FROM ${prefix}hop${i - 1} h
               |  LEFT JOIN ${prefix}best$i b USING (probe_id, entry_id))"""
              .stripMargin
          }.mkString(",\n")
        def volSum(p: String): String = (1 to graphHops)
          .map(i => s"(SELECT COUNT(*) FROM ${p}cand$i)").mkString(" + ")
        val body =
          s"""$sqlEmb,
             |$sqlPlantedChain,
             |$sqlKnnDiversifyCtes,
             |lvm AS (SELECT vec_id, ${sqlHnswLevel("vec_id")} AS lv
             |  FROM embeddings),
             |${layerChain(2)},
             |${layerChain(1)},
             |tp AS (SELECT MIN(vec_id) AS tid FROM lvm WHERE lv >= 2),
             |l2hop0 AS MATERIALIZED (SELECT p.probe_id, p.source_id,
             |    p.pvec, p.pn2, e.vec_id AS entry_id, 1 AS entry_rn,
             |    e.vec_id AS cur_id, $entryCos AS cur_cos,
             |    CAST(0 AS BIGINT) AS n_moves
             |  FROM ppn p JOIN e ON e.vec_id = (SELECT tid FROM tp)),
             |${hops("l2", "l2g")},
             |l1hop0 AS MATERIALIZED (SELECT probe_id, source_id, pvec,
             |    pn2, cur_id AS entry_id, 1 AS entry_rn, cur_id, cur_cos,
             |    CAST(0 AS BIGINT) AS n_moves
             |  FROM l2hop$graphHops),
             |${hops("l1", "l1g")},
             |bnb AS (SELECT h.probe_id, dg.dst, $hopCos AS c
             |  FROM l1hop$graphHops h JOIN dg ON dg.src = h.cur_id
             |  JOIN e e2 ON e2.vec_id = dg.dst),
             |bnr AS (SELECT probe_id, dst,
             |    ROW_NUMBER() OVER (PARTITION BY probe_id
             |      ORDER BY c DESC, dst) AS rn FROM bnb),
             |bent AS (SELECT probe_id, cur_id AS entry_id, 1 AS entry_rn
             |    FROM l1hop$graphHops
             |  UNION ALL SELECT probe_id, dst, CAST(rn + 1 AS INT)
             |    FROM bnr WHERE rn <= ${graphEntries - 1}),
             |bhop0 AS MATERIALIZED (SELECT p.probe_id, p.source_id,
             |    p.pvec, p.pn2, be.entry_id, be.entry_rn,
             |    be.entry_id AS cur_id, $entryCos AS cur_cos,
             |    CAST(0 AS BIGINT) AS n_moves
             |  FROM ppn p JOIN bent be USING (probe_id)
             |  JOIN e ON e.vec_id = be.entry_id),
             |${hops("b", "dg")},
             |win AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
             |    ORDER BY cur_cos DESC, cur_id, entry_id) AS wrn
             |  FROM bhop$graphHops),
             |pprobe AS (SELECT probe_id, source_id,
             |    MIN(CASE WHEN entry_rn = 1 THEN entry_id END)
             |      AS entry_top1_id,
             |    MAX(CASE WHEN entry_id = source_id THEN 1 ELSE 0 END)
             |      AS entryset_has_source,
             |    MIN(CASE WHEN wrn = 1 THEN cur_id END) AS final_id,
             |    MIN(CASE WHEN wrn = 1 THEN entry_id END)
             |      AS winning_entry_id,
             |    MIN(CASE WHEN wrn = 1 THEN n_moves END) AS n_moves
             |  FROM win GROUP BY 1, 2)
             |SELECT probe_id, source_id, entry_top1_id, winning_entry_id,
             |  final_id, CAST(n_moves AS BIGINT) AS n_moves,
             |  CAST(CASE WHEN entry_top1_id = source_id THEN 1 ELSE 0 END
             |    AS BIGINT) AS entry_was_source,
             |  CAST(entryset_has_source AS BIGINT) AS entryset_has_source,
             |  CAST(CASE WHEN final_id = source_id THEN 1 ELSE 0 END
             |    AS BIGINT) AS found_source,
             |  CAST(SUM(CASE WHEN entry_top1_id = source_id THEN 1 ELSE 0
             |      END) OVER () * 1000 // COUNT(*) OVER () AS BIGINT)
             |    AS entry_recall_permille,
             |  CAST(SUM(entryset_has_source)
             |      OVER () * 1000 // COUNT(*) OVER () AS BIGINT)
             |    AS entryset_recall_permille,
             |  CAST(SUM(CASE WHEN final_id = source_id THEN 1 ELSE 0 END)
             |      OVER () * 1000 // COUNT(*) OVER () AS BIGINT)
             |    AS graph_recall_permille,
             |  CAST((${volSum("l1")}) AS BIGINT) AS l1_cand_rows,
             |  CAST((${volSum("l2")}) AS BIGINT) AS l2_cand_rows
             |FROM pprobe ORDER BY probe_id""".stripMargin
        "WITH " + sqlSembCtes + ",\n" +
          body.replace("FROM embeddings", "FROM semb")
      },
      // the refined graph's node-grain rollup — q294's twin over rg
      "q300_knn_refine" ->
        s"""WITH $sqlEmb,
           |$sqlKnnRefineCtes
           |SELECT src AS vec_id, CAST(COUNT(*) AS BIGINT) AS degree,
           |  CAST(SUM(dst) AS BIGINT) AS sum_dst,
           |  MIN(dst) AS min_dst, MAX(dst) AS max_dst
           |FROM rg GROUP BY src ORDER BY vec_id""".stripMargin,
      // the diversified graph's node-grain rollup — q294's twin over dg
      "q304_knn_diversify" ->
        s"""WITH $sqlEmb,
           |$sqlKnnDiversifyCtes
           |SELECT src AS vec_id, CAST(COUNT(*) AS BIGINT) AS degree,
           |  CAST(SUM(dst) AS BIGINT) AS sum_dst,
           |  MIN(dst) AS min_dst, MAX(dst) AS max_dst
           |FROM dg GROUP BY src ORDER BY vec_id""".stripMargin,
      // incremental ≡ from-scratch for the SHIPPED build: q304's twin
      // VERBATIM (the q296 convention applied to the diversified
      // selection)
      "q315_delta_knn_diversify" ->
        s"""WITH $sqlEmb,
           |$sqlKnnDiversifyCtes
           |SELECT src AS vec_id, CAST(COUNT(*) AS BIGINT) AS degree,
           |  CAST(SUM(dst) AS BIGINT) AS sum_dst,
           |  MIN(dst) AS min_dst, MAX(dst) AS max_dst
           |FROM dg GROUP BY src ORDER BY vec_id""".stripMargin,
      // incremental-delete ≡ from-scratch-on-survivors: q304's twin
      // over the corpus with the delete batch filtered out (the one
      // textual change is the `demb` source; the width rule inside
      // the chain re-evaluates on the survivor count, which sits on
      // the same side of the floor at every gate SF — a crossing
      // would force a rebuild on both sides)
      "q327_delete_knn_diversify" -> {
        val del = s"(vec_id >= $delLo AND vec_id < $delHi)"
        val body =
          s"""$sqlEmb,
             |$sqlKnnDiversifyCtes
             |SELECT src AS vec_id, CAST(COUNT(*) AS BIGINT) AS degree,
             |  CAST(SUM(dst) AS BIGINT) AS sum_dst,
             |  MIN(dst) AS min_dst, MAX(dst) AS max_dst
             |FROM dg GROUP BY src ORDER BY vec_id""".stripMargin
        s"WITH demb AS MATERIALIZED (SELECT * FROM embeddings " +
          s"WHERE NOT $del),\n" +
          body.replace("FROM embeddings", "FROM demb")
      },
      // incremental-delete ≡ from-scratch-on-survivors for the
      // refined build: q300's twin over demb (q327's device)
      "q331_delete_knn_refine" -> {
        val del = s"(vec_id >= $delLo AND vec_id < $delHi)"
        val body =
          s"""$sqlEmb,
             |$sqlKnnRefineCtes
             |SELECT src AS vec_id, CAST(COUNT(*) AS BIGINT) AS degree,
             |  CAST(SUM(dst) AS BIGINT) AS sum_dst,
             |  MIN(dst) AS min_dst, MAX(dst) AS max_dst
             |FROM rg GROUP BY src ORDER BY vec_id""".stripMargin
        s"WITH demb AS MATERIALIZED (SELECT * FROM embeddings " +
          s"WHERE NOT $del),\n" +
          body.replace("FROM embeddings", "FROM demb")
      },
      // incremental ≡ from-scratch for the refined build: q300's twin
      // VERBATIM
      "q319_delta_knn_refine" ->
        s"""WITH $sqlEmb,
           |$sqlKnnRefineCtes
           |SELECT src AS vec_id, CAST(COUNT(*) AS BIGINT) AS degree,
           |  CAST(SUM(dst) AS BIGINT) AS sum_dst,
           |  MIN(dst) AS min_dst, MAX(dst) AS max_dst
           |FROM rg GROUP BY src ORDER BY vec_id""".stripMargin,
      "q195_res_pq_encode" ->
        s"""WITH ${sqlResChain(1)}
           |SELECT r.vec_id, v.cell,
           |  CAST(SUM(r.code * (CAST(1 AS BIGINT) << CAST(2 * r.m AS INT)))
           |    AS BIGINT) AS packed_code,
           |  CAST(SUM(r.dist) AS BIGINT) AS qerr
           |FROM rcod r JOIN rv v USING (vec_id)
           |GROUP BY 1, 2 ORDER BY r.vec_id""".stripMargin,
      "q196_res_ivf_pq_topk" ->
        s"""WITH ${sqlResChain(ivfNprobe)}
           |SELECT probe_id, vec_id, cell, adc_dist, rn FROM (
           |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
           |    ORDER BY adc_dist, vec_id) AS INTEGER) AS rn FROM adc)
           |WHERE rn <= $pqTopK ORDER BY probe_id, rn""".stripMargin,
      "q197_res_pq_recall" ->
        s"""WITH ${sqlResChain(ivfNprobe)},
           |pqtop AS (SELECT probe_id, vec_id FROM (
           |    SELECT probe_id, vec_id,
           |      ROW_NUMBER() OVER (PARTITION BY probe_id
           |        ORDER BY adc_dist, vec_id) AS rn
           |    FROM adc) WHERE rn <= $pqTopK),
           |p AS (SELECT vec_id AS probe_id, embedding AS pe, n2 AS pn2
           |      FROM e WHERE ${sqlProbeSlice(61)}),
           |ex AS (SELECT probe_id, vec_id FROM (
           |  SELECT p.probe_id, e.vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY p.probe_id
           |      ORDER BY $cos DESC, e.vec_id) AS rn
           |  FROM p JOIN e ON e.vec_id <> p.probe_id)
           |  WHERE rn <= $pqTopK),
           |h AS (SELECT ex.probe_id, CAST(COUNT(*) AS BIGINT) AS k_exact,
           |        CAST(SUM(CASE WHEN pqtop.vec_id IS NOT NULL
           |          THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
           |      FROM ex LEFT JOIN pqtop
           |        ON pqtop.probe_id = ex.probe_id
           |        AND pqtop.vec_id = ex.vec_id
           |      GROUP BY ex.probe_id)
           |SELECT probe_id, k_exact, n_hits,
           |  n_hits * 1000 // $pqTopK AS recall_permille,
           |  CAST(SUM(n_hits) OVER () * 1000
           |    // (COUNT(*) OVER () * $pqTopK) AS BIGINT)
           |    AS overall_recall_permille
           |FROM h ORDER BY probe_id""".stripMargin,
      "q192_ivf_cell_balance" -> {
        val cCos = sqlCosineFrom(sqlDot("e.embedding", "c.ce"), "e.n2", "c.cn2")
        s"""WITH $sqlEmb,
           |c AS (SELECT vec_id AS c_id, embedding AS ce, n2 AS cn2
           |      FROM e WHERE vec_id IN (${centroidIds.mkString(",")})),
           |cells AS (
           |  SELECT vec_id, cell FROM (
           |    SELECT e.vec_id, c.c_id AS cell,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |        ORDER BY $cCos DESC, c.c_id) AS rn
           |    FROM e, c) WHERE rn = 1),
           |pc AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members
           |       FROM cells GROUP BY 1)
           |SELECT cell, n_members,
           |  CAST(n_members * 1000
           |    // (SUM(n_members) OVER ()) AS BIGINT) AS share_permille,
           |  CAST(n_members * (COUNT(*) OVER ()) * 1000
           |    // (SUM(n_members) OVER ()) AS BIGINT) AS balance_permille
           |FROM pc ORDER BY cell""".stripMargin
      },
      "q193_ann_multiprobe" -> {
        val bCos = sqlCosineFrom(sqlDot("p.pe", "b.embedding"), "p.pn2", "b.n2")
        s"""WITH $sqlEmb,
           |b AS (SELECT vec_id, embedding, n2,
           |        ${sqlLshBucket("embedding")} AS bucket FROM e),
           |p AS (SELECT vec_id AS probe_id, embedding AS pe, n2 AS pn2,
           |        unnest($mpBuckets) AS pbucket
           |      FROM b WHERE ${sqlProbeSlice(61)})
           |SELECT probe_id, vec_id, bucket, cosine, rn FROM (
           |  SELECT p.probe_id, b.vec_id, b.bucket, $bCos AS cosine,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY p.probe_id
           |      ORDER BY $bCos DESC, b.vec_id) AS INTEGER) AS rn
           |  FROM p JOIN b ON b.bucket = p.pbucket AND b.vec_id <> p.probe_id)
           |WHERE rn <= $annK ORDER BY probe_id, rn""".stripMargin
      },
      "q194_multiprobe_recall" -> {
        val bCos = sqlCosineFrom(sqlDot("p.pe", "b.embedding"), "p.pn2", "b.n2")
        s"""WITH $sqlEmb,
           |b AS (SELECT vec_id, embedding, n2,
           |        ${sqlLshBucket("embedding")} AS bucket FROM e),
           |p0 AS (SELECT vec_id AS probe_id, embedding AS pe, n2 AS pn2,
           |         bucket FROM b WHERE ${sqlProbeSlice(61)}),
           |p AS (SELECT probe_id, pe, pn2, bucket AS pbucket FROM p0),
           |mp AS (SELECT probe_id, pe, pn2, unnest($mpBuckets) AS pbucket
           |       FROM p0),
           |ex AS (SELECT probe_id, vec_id FROM (
           |  SELECT p.probe_id, e.vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY p.probe_id
           |      ORDER BY $cos DESC, e.vec_id) AS rn
           |  FROM p JOIN e ON e.vec_id <> p.probe_id)
           |  WHERE rn <= $annK),
           |an AS (SELECT probe_id, vec_id FROM (
           |  SELECT mp.probe_id, b.vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY mp.probe_id
           |      ORDER BY ${sqlCosineFrom(sqlDot("mp.pe", "b.embedding"), "mp.pn2", "b.n2")} DESC,
           |        b.vec_id) AS rn
           |  FROM mp JOIN b ON b.bucket = mp.pbucket AND b.vec_id <> mp.probe_id)
           |  WHERE rn <= $annK),
           |h AS (SELECT ex.probe_id, CAST(COUNT(*) AS BIGINT) AS k_exact,
           |        CAST(SUM(CASE WHEN an.vec_id IS NOT NULL
           |          THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
           |      FROM ex LEFT JOIN an
           |        ON an.probe_id = ex.probe_id AND an.vec_id = ex.vec_id
           |      GROUP BY ex.probe_id)
           |SELECT probe_id, k_exact, n_hits,
           |  n_hits * 1000 // $annK AS recall_permille,
           |  CAST(SUM(n_hits) OVER () * 1000
           |    // (COUNT(*) OVER () * $annK) AS BIGINT)
           |    AS overall_recall_permille
           |FROM h ORDER BY probe_id""".stripMargin
      },
      "q151_int8_quant" ->
        s"""WITH p AS (SELECT label,
           |    unnest(list_transform(range(1, len(embedding) + 1), i ->
           |      struct_pack(dim := CAST(i AS INT),
           |        m := CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE)
           |          * 1000000) AS BIGINT)))) AS u
           |  FROM embeddings),
           |q AS (SELECT label, (u).dim AS dim, (u).m AS m FROM p),
           |sc AS (SELECT dim, MAX(abs(m)) AS s FROM q GROUP BY 1),
           |e AS (SELECT label,
           |    abs(m - (CASE WHEN m < 0 THEN -1 ELSE 1 END) *
           |      (((abs(m) * 127 // s) * s) // 127)) AS err
           |  FROM q JOIN sc USING (dim))
           |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_values,
           |  CAST(MAX(err) AS BIGINT) AS max_err_micro,
           |  CAST(SUM(err) // COUNT(*) AS BIGINT) AS mean_err_micro,
           |  CAST(SUM(err * err) AS BIGINT) AS sum_sq_err
           |FROM e GROUP BY label ORDER BY label""".stripMargin,
      "q29_cosine_topk" ->
        s"""WITH $sqlEmb,
           |p AS (SELECT vec_id AS probe_id, embedding AS pe, n2 AS pn2
           |      FROM e WHERE ${sqlProbeSlice(61)})
           |SELECT probe_id, vec_id, cosine, rn FROM (
           |  SELECT p.probe_id, e.vec_id, $cos AS cosine,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY p.probe_id
           |      ORDER BY $cos DESC, e.vec_id) AS INTEGER) AS rn
           |  FROM p JOIN e ON e.vec_id <> p.probe_id)
           |WHERE rn <= $topK ORDER BY probe_id, rn""".stripMargin,
      "q106_hard_negatives" ->
        s"""WITH $sqlEmb,
           |p AS (SELECT vec_id AS probe_id, embedding AS pe, n2 AS pn2
           |      FROM e WHERE ${sqlProbeSlice(61)})
           |SELECT probe_id, vec_id, cosine, rn FROM (
           |  SELECT p.probe_id, e.vec_id, $cos AS cosine,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY p.probe_id
           |      ORDER BY $cos DESC, e.vec_id) AS INTEGER) AS rn
           |  FROM p JOIN e ON e.vec_id <> p.probe_id
           |  WHERE $cos < $hardNegTau)
           |WHERE rn <= $topK ORDER BY probe_id, rn""".stripMargin,
      "q243_contrastive_triplets" ->
        s"""WITH el AS (SELECT vec_id, embedding, label,
           |      ${sqlNorm2("embedding")} AS n2 FROM embeddings),
           |p AS (SELECT vec_id AS probe_id, embedding AS pe,
           |      label AS plabel, n2 AS pn2
           |    FROM el WHERE ${sqlProbeSlice(61)}),
           |s AS (SELECT p.probe_id, p.plabel, e.vec_id, e.label,
           |    ${sqlCosineFrom(sqlDot("p.pe", "e.embedding"), "p.pn2", "e.n2")}
           |      AS cosine
           |  FROM p JOIN el e ON e.vec_id <> p.probe_id),
           |pos AS (SELECT probe_id, vec_id AS pos_id, cosine AS pos_cos
           |  FROM (SELECT probe_id, vec_id, cosine, row_number() OVER (
           |      PARTITION BY probe_id ORDER BY cosine DESC, vec_id DESC)
           |      AS rn FROM s WHERE label = plabel) WHERE rn = 1),
           |neg AS (SELECT probe_id, vec_id AS neg_id, cosine AS neg_cos
           |  FROM (SELECT probe_id, vec_id, cosine, row_number() OVER (
           |      PARTITION BY probe_id ORDER BY cosine DESC, vec_id DESC)
           |      AS rn FROM s WHERE label <> plabel) WHERE rn = 1)
           |SELECT pos.probe_id, pos_id, pos_cos, neg_id, neg_cos,
           |  pos_cos - neg_cos AS margin
           |FROM pos JOIN neg ON neg.probe_id = pos.probe_id
           |ORDER BY pos.probe_id""".stripMargin,
      "q30_ann_lsh" ->
        s"""WITH $sqlEmb,
           |b AS (SELECT vec_id, embedding, n2,
           |        ${sqlLshBucket("embedding")} AS bucket FROM e),
           |p AS (SELECT vec_id AS probe_id, embedding AS pe, n2 AS pn2,
           |        bucket AS pbucket FROM b WHERE ${sqlProbeSlice(61)})
           |SELECT probe_id, vec_id, bucket, cosine, rn FROM (
           |  SELECT p.probe_id, b.vec_id, b.bucket,
           |    ${sqlCosineFrom(sqlDot("p.pe", "b.embedding"), "p.pn2", "b.n2")} AS cosine,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY p.probe_id
           |      ORDER BY ${sqlCosineFrom(sqlDot("p.pe", "b.embedding"), "p.pn2", "b.n2")} DESC,
           |        b.vec_id) AS INTEGER) AS rn
           |  FROM p JOIN b ON b.bucket = p.pbucket AND b.vec_id <> p.probe_id)
           |WHERE rn <= $annK ORDER BY probe_id, rn""".stripMargin,
      "q37_ann_ivf" -> {
        val cCos = sqlCosineFrom(sqlDot("e.embedding", "c.ce"), "e.n2", "c.cn2")
        val pCos = sqlCosineFrom(sqlDot("p.pe", "cl.embedding"), "p.pn2", "cl.n2")
        s"""WITH $sqlEmb,
           |c AS (SELECT vec_id AS c_id, embedding AS ce, n2 AS cn2
           |      FROM e WHERE vec_id IN (${centroidIds.mkString(",")})),
           |cells AS (
           |  SELECT vec_id, embedding, n2, cell FROM (
           |    SELECT e.vec_id, e.embedding, e.n2, c.c_id AS cell,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |        ORDER BY $cCos DESC, c.c_id) AS rn
           |    FROM e, c) WHERE rn = 1),
           |p AS (SELECT vec_id AS probe_id, embedding AS pe, n2 AS pn2, cell
           |      FROM cells WHERE ${sqlProbeSlice(61)})
           |SELECT probe_id, vec_id, cell, cosine, rn FROM (
           |  SELECT p.probe_id, cl.vec_id, cl.cell, $pCos AS cosine,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY p.probe_id
           |      ORDER BY $pCos DESC, cl.vec_id) AS INTEGER) AS rn
           |  FROM p JOIN cells cl
           |    ON cl.cell = p.cell AND cl.vec_id <> p.probe_id)
           |WHERE rn <= $annK ORDER BY probe_id, rn""".stripMargin
      },
      "q131_ann_recall" -> {
        val bCos = sqlCosineFrom(sqlDot("p.pe", "b.embedding"), "p.pn2", "b.n2")
        s"""WITH $sqlEmb,
           |b AS (SELECT vec_id, embedding, n2,
           |        ${sqlLshBucket("embedding")} AS bucket FROM e),
           |p AS (SELECT vec_id AS probe_id, embedding AS pe, n2 AS pn2,
           |        bucket AS pbucket FROM b WHERE ${sqlProbeSlice(61)}),
           |ex AS (SELECT probe_id, vec_id FROM (
           |  SELECT p.probe_id, e.vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY p.probe_id
           |      ORDER BY $cos DESC, e.vec_id) AS rn
           |  FROM p JOIN e ON e.vec_id <> p.probe_id)
           |  WHERE rn <= $annK),
           |an AS (SELECT probe_id, vec_id FROM (
           |  SELECT p.probe_id, b.vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY p.probe_id
           |      ORDER BY $bCos DESC, b.vec_id) AS rn
           |  FROM p JOIN b ON b.bucket = p.pbucket AND b.vec_id <> p.probe_id)
           |  WHERE rn <= $annK),
           |h AS (SELECT ex.probe_id, CAST(COUNT(*) AS BIGINT) AS k_exact,
           |        CAST(SUM(CASE WHEN an.vec_id IS NOT NULL
           |          THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
           |      FROM ex LEFT JOIN an
           |        ON an.probe_id = ex.probe_id AND an.vec_id = ex.vec_id
           |      GROUP BY ex.probe_id)
           |SELECT probe_id, k_exact, n_hits,
           |  n_hits * 1000 // $annK AS recall_permille,
           |  CAST(SUM(n_hits) OVER () * 1000
           |    // (COUNT(*) OVER () * $annK) AS BIGINT)
           |    AS overall_recall_permille
           |FROM h ORDER BY probe_id""".stripMargin
      },
      "q168_pq_encode" ->
        s"""WITH $sqlPqCodes
           |SELECT vec_id,
           |  CAST(SUM(code * (CAST(1 AS BIGINT) << CAST(2 * m AS INT)))
           |    AS BIGINT) AS packed_code,
           |  CAST(SUM(dist) AS BIGINT) AS qerr
           |FROM cod GROUP BY vec_id ORDER BY vec_id""".stripMargin,
      "q169_pq_adc_topk" ->
        s"""WITH $sqlPqCodes,
           |pr AS (SELECT vec_id AS probe_id, m, c, dist FROM pd
           |  WHERE ${sqlProbeSlice(61)}),
           |adc AS (SELECT pr.probe_id, cod.vec_id,
           |    CAST(SUM(pr.dist) AS BIGINT) AS adc_dist
           |  FROM cod JOIN pr ON pr.m = cod.m AND pr.c = cod.code
           |  WHERE cod.vec_id <> pr.probe_id
           |  GROUP BY 1, 2)
           |SELECT probe_id, vec_id, adc_dist, rn FROM (
           |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
           |    ORDER BY adc_dist, vec_id) AS INTEGER) AS rn FROM adc)
           |WHERE rn <= $pqTopK ORDER BY probe_id, rn""".stripMargin,
      "q177_ivf_pq_topk" ->
        s"""WITH $sqlIvfPqAdc
           |SELECT probe_id, vec_id, cell, adc_dist, rn FROM (
           |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
           |    ORDER BY adc_dist, vec_id) AS INTEGER) AS rn FROM adc)
           |WHERE rn <= $pqTopK ORDER BY probe_id, rn""".stripMargin,
      "q184_ivf_pq_nprobe" ->
        s"""WITH ${sqlIvfPqAdcN(ivfNprobe)}
           |SELECT probe_id, vec_id, cell, adc_dist, rn FROM (
           |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
           |    ORDER BY adc_dist, vec_id) AS INTEGER) AS rn FROM adc)
           |WHERE rn <= $pqTopK ORDER BY probe_id, rn""".stripMargin,
      "q185_pq_recall_nprobe" -> sqlPqRecall(ivfNprobe),
      "q227_filtered_topk" -> {
        val cos = sqlCosineFrom(sqlDot("p.pe", "e.embedding"), "p.pn2", "e.n2")
        val labels = filteredLabels.mkString(", ")
        s"""WITH em AS (SELECT vec_id, embedding, label,
           |      ${sqlNorm2("embedding")} AS n2 FROM embeddings),
           |p AS (SELECT vec_id AS probe_id, embedding AS pe, n2 AS pn2
           |      FROM em WHERE ${sqlProbeSlice(61)}),
           |sc AS (SELECT p.probe_id, e.vec_id, e.label, $cos AS cosine
           |       FROM p JOIN em e ON e.vec_id <> p.probe_id),
           |pre AS (SELECT probe_id, vec_id, label, cosine,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
           |      ORDER BY cosine DESC, vec_id) AS INTEGER) AS rn
           |  FROM sc WHERE label IN ($labels)),
           |post AS (SELECT probe_id,
           |    CAST(SUM(CASE WHEN label IN ($labels) THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_post_surviving
           |  FROM (SELECT probe_id, label,
           |          ROW_NUMBER() OVER (PARTITION BY probe_id
           |            ORDER BY cosine DESC, vec_id) AS rn
           |        FROM sc)
           |  WHERE rn <= $pqTopK GROUP BY probe_id)
           |SELECT pre.probe_id, pre.vec_id, pre.label, pre.cosine, pre.rn,
           |  post.n_post_surviving
           |FROM pre JOIN post ON post.probe_id = pre.probe_id
           |WHERE pre.rn <= $pqTopK ORDER BY pre.probe_id, pre.rn""".stripMargin
      },
      "q229_pq_rerank" -> {
        val cos = sqlCosineFrom(sqlDot("p.pe", "e2.embedding"), "p.pn2", "e2.n2")
        s"""WITH ${sqlIvfPqAdcN(ivfNprobe)},
           |sl AS (SELECT probe_id, vec_id FROM (
           |    SELECT probe_id, vec_id,
           |      ROW_NUMBER() OVER (PARTITION BY probe_id
           |        ORDER BY adc_dist, vec_id) AS rn
           |    FROM adc) WHERE rn <= $pqRerankR),
           |p AS (SELECT vec_id AS probe_id, embedding AS pe, n2 AS pn2
           |      FROM e WHERE ${sqlProbeSlice(61)}),
           |rr AS (SELECT sl.probe_id, sl.vec_id, $cos AS cosine
           |       FROM sl JOIN e e2 ON e2.vec_id = sl.vec_id
           |       JOIN p ON p.probe_id = sl.probe_id)
           |SELECT probe_id, vec_id, cosine, rn FROM (
           |  SELECT probe_id, vec_id, cosine,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
           |      ORDER BY cosine DESC, vec_id) AS INTEGER) AS rn FROM rr)
           |WHERE rn <= $pqTopK ORDER BY probe_id, rn""".stripMargin
      },
      "q230_rerank_recall" -> {
        val rcos = sqlCosineFrom(sqlDot("p.pe", "e2.embedding"), "p.pn2", "e2.n2")
        val xcos = sqlCosineFrom(sqlDot("p.pe", "e.embedding"), "p.pn2", "e.n2")
        s"""WITH ${sqlIvfPqAdcN(ivfNprobe)},
           |ranked AS (SELECT probe_id, vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY probe_id
           |      ORDER BY adc_dist, vec_id) AS rn
           |  FROM adc),
           |sl AS (SELECT probe_id, vec_id FROM ranked WHERE rn <= $pqRerankR),
           |pqtop AS (SELECT probe_id, vec_id FROM ranked WHERE rn <= $pqTopK),
           |p AS (SELECT vec_id AS probe_id, embedding AS pe, n2 AS pn2
           |      FROM e WHERE ${sqlProbeSlice(61)}),
           |rr AS (SELECT probe_id, vec_id FROM (
           |    SELECT sl.probe_id, sl.vec_id,
           |      ROW_NUMBER() OVER (PARTITION BY sl.probe_id
           |        ORDER BY $rcos DESC, sl.vec_id) AS rn
           |    FROM sl JOIN e e2 ON e2.vec_id = sl.vec_id
           |    JOIN p ON p.probe_id = sl.probe_id) WHERE rn <= $pqTopK),
           |ex AS (SELECT probe_id, vec_id FROM (
           |  SELECT p.probe_id, e.vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY p.probe_id
           |      ORDER BY $xcos DESC, e.vec_id) AS rn
           |  FROM p JOIN e ON e.vec_id <> p.probe_id)
           |  WHERE rn <= $pqTopK),
           |h AS (SELECT ex.probe_id, CAST(COUNT(*) AS BIGINT) AS k_exact,
           |        CAST(SUM(CASE WHEN rr.vec_id IS NOT NULL
           |          THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_rerank,
           |        CAST(SUM(CASE WHEN pqtop.vec_id IS NOT NULL
           |          THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_adc
           |      FROM ex LEFT JOIN rr
           |        ON rr.probe_id = ex.probe_id AND rr.vec_id = ex.vec_id
           |      LEFT JOIN pqtop
           |        ON pqtop.probe_id = ex.probe_id
           |        AND pqtop.vec_id = ex.vec_id
           |      GROUP BY ex.probe_id)
           |SELECT probe_id, k_exact, n_hits_rerank, n_hits_adc,
           |  n_hits_rerank * 1000 // $pqTopK AS rerank_recall_permille,
           |  n_hits_adc * 1000 // $pqTopK AS adc_recall_permille,
           |  CAST(SUM(n_hits_rerank) OVER () * 1000
           |    // (COUNT(*) OVER () * $pqTopK) AS BIGINT)
           |    AS overall_rerank_permille,
           |  CAST(SUM(n_hits_adc) OVER () * 1000
           |    // (COUNT(*) OVER () * $pqTopK) AS BIGINT)
           |    AS overall_adc_permille
           |FROM h ORDER BY probe_id""".stripMargin
      },
      "q225_sq8_topk" ->
        s"""WITH $sqlSq8Chain
           |SELECT probe_id, vec_id, score, rn FROM r8
           |WHERE rn <= $pqTopK ORDER BY probe_id, rn""".stripMargin,
      "q226_sq8_recall" -> {
        val cos = sqlCosineFrom(sqlDot("p.pe", "e.embedding"), "p.pn2", "e.n2")
        s"""WITH $sqlEmb, $sqlSq8Chain,
           |top8 AS (SELECT probe_id, vec_id FROM r8 WHERE rn <= $pqTopK),
           |p AS (SELECT vec_id AS probe_id, embedding AS pe, n2 AS pn2
           |      FROM e WHERE ${sqlProbeSlice(61)}),
           |ex AS (SELECT probe_id, vec_id FROM (
           |  SELECT p.probe_id, e.vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY p.probe_id
           |      ORDER BY $cos DESC, e.vec_id) AS rn
           |  FROM p JOIN e ON e.vec_id <> p.probe_id)
           |  WHERE rn <= $pqTopK),
           |h AS (SELECT ex.probe_id, CAST(COUNT(*) AS BIGINT) AS k_exact,
           |        CAST(SUM(CASE WHEN top8.vec_id IS NOT NULL
           |          THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
           |      FROM ex LEFT JOIN top8
           |        ON top8.probe_id = ex.probe_id
           |        AND top8.vec_id = ex.vec_id
           |      GROUP BY ex.probe_id)
           |SELECT probe_id, k_exact, n_hits,
           |  n_hits * 1000 // $pqTopK AS recall_permille,
           |  CAST(SUM(n_hits) OVER () * 1000
           |    // (COUNT(*) OVER () * $pqTopK) AS BIGINT)
           |    AS overall_recall_permille
           |FROM h ORDER BY probe_id""".stripMargin
      },
      "q249_bq_topk" ->
        s"""WITH $sqlBqChain
           |SELECT probe_id, vec_id, hamming, rn FROM br
           |WHERE rn <= $pqTopK ORDER BY probe_id, rn""".stripMargin,
      "q250_bq_recall" -> {
        val cos = sqlCosineFrom(sqlDot("p.pe", "e.embedding"), "p.pn2", "e.n2")
        s"""WITH $sqlEmb, $sqlBqChain,
           |topb AS (SELECT probe_id, vec_id FROM br WHERE rn <= $pqTopK),
           |p AS (SELECT vec_id AS probe_id, embedding AS pe, n2 AS pn2
           |      FROM e WHERE ${sqlProbeSlice(61)}),
           |ex AS (SELECT probe_id, vec_id FROM (
           |  SELECT p.probe_id, e.vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY p.probe_id
           |      ORDER BY $cos DESC, e.vec_id) AS rn
           |  FROM p JOIN e ON e.vec_id <> p.probe_id)
           |  WHERE rn <= $pqTopK),
           |h AS (SELECT ex.probe_id, CAST(COUNT(*) AS BIGINT) AS k_exact,
           |        CAST(SUM(CASE WHEN topb.vec_id IS NOT NULL
           |          THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
           |      FROM ex LEFT JOIN topb
           |        ON topb.probe_id = ex.probe_id
           |        AND topb.vec_id = ex.vec_id
           |      GROUP BY ex.probe_id)
           |SELECT probe_id, k_exact, n_hits,
           |  n_hits * 1000 // $pqTopK AS recall_permille,
           |  CAST(SUM(n_hits) OVER () * 1000
           |    // (COUNT(*) OVER () * $pqTopK) AS BIGINT)
           |    AS overall_recall_permille
           |FROM h ORDER BY probe_id""".stripMargin
      },
      "q251_mrl_recall" -> {
        val cos = sqlCosineFrom(sqlDot("p.pe", "e.embedding"), "p.pn2", "e.n2")
        val tcos = sqlCosineFrom(
          sqlDot("tp.embedding", "t.embedding", mrlDims),
          sqlNorm2("tp.embedding", mrlDims), sqlNorm2("t.embedding", mrlDims))
        s"""WITH $sqlEmb,
           |t AS (SELECT vec_id, embedding FROM embeddings),
           |tp AS (SELECT vec_id AS probe_id, embedding FROM embeddings
           |       WHERE ${sqlProbeSlice(61)}),
           |ttop AS (SELECT probe_id, vec_id FROM (
           |  SELECT tp.probe_id, t.vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY tp.probe_id
           |      ORDER BY $tcos DESC, t.vec_id) AS rn
           |  FROM tp JOIN t ON t.vec_id <> tp.probe_id)
           |  WHERE rn <= $pqTopK),
           |p AS (SELECT vec_id AS probe_id, embedding AS pe, n2 AS pn2
           |      FROM e WHERE ${sqlProbeSlice(61)}),
           |ex AS (SELECT probe_id, vec_id FROM (
           |  SELECT p.probe_id, e.vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY p.probe_id
           |      ORDER BY $cos DESC, e.vec_id) AS rn
           |  FROM p JOIN e ON e.vec_id <> p.probe_id)
           |  WHERE rn <= $pqTopK),
           |h AS (SELECT ex.probe_id, CAST(COUNT(*) AS BIGINT) AS k_exact,
           |        CAST(SUM(CASE WHEN ttop.vec_id IS NOT NULL
           |          THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
           |      FROM ex LEFT JOIN ttop
           |        ON ttop.probe_id = ex.probe_id
           |        AND ttop.vec_id = ex.vec_id
           |      GROUP BY ex.probe_id)
           |SELECT probe_id, k_exact, n_hits,
           |  n_hits * 1000 // $pqTopK AS recall_permille,
           |  CAST(SUM(n_hits) OVER () * 1000
           |    // (COUNT(*) OVER () * $pqTopK) AS BIGINT)
           |    AS overall_recall_permille
           |FROM h ORDER BY probe_id""".stripMargin
      },
      "q254_bq_rerank" -> {
        val cos = sqlCosineFrom(sqlDot("p.pe", "e2.embedding"), "p.pn2", "e2.n2")
        s"""WITH $sqlEmb, $sqlBqChain,
           |sl AS (SELECT probe_id, vec_id FROM br WHERE rn <= $pqRerankR),
           |p AS (SELECT vec_id AS probe_id, embedding AS pe, n2 AS pn2
           |      FROM e WHERE ${sqlProbeSlice(61)}),
           |rr AS (SELECT sl.probe_id, sl.vec_id, $cos AS cosine
           |       FROM sl JOIN e e2 ON e2.vec_id = sl.vec_id
           |       JOIN p ON p.probe_id = sl.probe_id)
           |SELECT probe_id, vec_id, cosine, rn FROM (
           |  SELECT probe_id, vec_id, cosine,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
           |      ORDER BY cosine DESC, vec_id) AS INTEGER) AS rn FROM rr)
           |WHERE rn <= $pqTopK ORDER BY probe_id, rn""".stripMargin
      },
      "q255_bq_rerank_recall" -> {
        val rcos = sqlCosineFrom(sqlDot("p.pe", "e2.embedding"), "p.pn2", "e2.n2")
        val xcos = sqlCosineFrom(sqlDot("p.pe", "e.embedding"), "p.pn2", "e.n2")
        s"""WITH $sqlEmb, $sqlBqChain,
           |sl AS (SELECT probe_id, vec_id FROM br WHERE rn <= $pqRerankR),
           |bqtop AS (SELECT probe_id, vec_id FROM br WHERE rn <= $pqTopK),
           |p AS (SELECT vec_id AS probe_id, embedding AS pe, n2 AS pn2
           |      FROM e WHERE ${sqlProbeSlice(61)}),
           |rr AS (SELECT probe_id, vec_id FROM (
           |    SELECT sl.probe_id, sl.vec_id,
           |      ROW_NUMBER() OVER (PARTITION BY sl.probe_id
           |        ORDER BY $rcos DESC, sl.vec_id) AS rn
           |    FROM sl JOIN e e2 ON e2.vec_id = sl.vec_id
           |    JOIN p ON p.probe_id = sl.probe_id) WHERE rn <= $pqTopK),
           |ex AS (SELECT probe_id, vec_id FROM (
           |  SELECT p.probe_id, e.vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY p.probe_id
           |      ORDER BY $xcos DESC, e.vec_id) AS rn
           |  FROM p JOIN e ON e.vec_id <> p.probe_id)
           |  WHERE rn <= $pqTopK),
           |h AS (SELECT ex.probe_id, CAST(COUNT(*) AS BIGINT) AS k_exact,
           |        CAST(SUM(CASE WHEN rr.vec_id IS NOT NULL
           |          THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_rerank,
           |        CAST(SUM(CASE WHEN bqtop.vec_id IS NOT NULL
           |          THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_bq
           |      FROM ex LEFT JOIN rr
           |        ON rr.probe_id = ex.probe_id AND rr.vec_id = ex.vec_id
           |      LEFT JOIN bqtop
           |        ON bqtop.probe_id = ex.probe_id
           |        AND bqtop.vec_id = ex.vec_id
           |      GROUP BY ex.probe_id)
           |SELECT probe_id, k_exact, n_hits_rerank, n_hits_bq,
           |  n_hits_rerank * 1000 // $pqTopK AS rerank_recall_permille,
           |  n_hits_bq * 1000 // $pqTopK AS bq_recall_permille,
           |  CAST(SUM(n_hits_rerank) OVER () * 1000
           |    // (COUNT(*) OVER () * $pqTopK) AS BIGINT)
           |    AS overall_rerank_permille,
           |  CAST(SUM(n_hits_bq) OVER () * 1000
           |    // (COUNT(*) OVER () * $pqTopK) AS BIGINT)
           |    AS overall_bq_permille
           |FROM h ORDER BY probe_id""".stripMargin
      },
      "q257_mmr_rerank" -> {
        val relCos = sqlCosineFrom(sqlDot("p.pe", "e.embedding"), "p.pn2", "e.n2")
        val pairCos = sqlCosineFrom(
          sqlDot("ea.embedding", "eb.embedding"), "ea.n2", "eb.n2")
        // sl/ps/sel_i are each referenced several times across the
        // greedy chain; AS MATERIALIZED pins the evaluate-once
        // semantics (an inlined sl would re-run the probes×corpus
        // scoring per reference — measured OOM at the 10× fixture)
        val base =
          s"""$sqlEmb,
             |p AS (SELECT vec_id AS probe_id, embedding AS pe, n2 AS pn2
             |      FROM e WHERE ${sqlProbeSlice(61)}),
             |sl AS MATERIALIZED (SELECT probe_id, vec_id, rel FROM (
             |  SELECT probe_id, vec_id, rel,
             |    ROW_NUMBER() OVER (PARTITION BY probe_id
             |      ORDER BY rel DESC, vec_id) AS rn
             |  FROM (SELECT p.probe_id, e.vec_id, $relCos AS rel
             |        FROM p JOIN e ON e.vec_id <> p.probe_id))
             |  WHERE rn <= $pqRerankR),
             |ps AS MATERIALIZED (
             |  SELECT s1.probe_id, s1.vec_id AS a, s2.vec_id AS b,
             |    $pairCos AS sim
             |  FROM sl s1 JOIN sl s2 ON s2.probe_id = s1.probe_id
             |    AND s2.vec_id <> s1.vec_id
             |  JOIN e ea ON ea.vec_id = s1.vec_id
             |  JOIN e eb ON eb.vec_id = s2.vec_id),
             |sel1 AS MATERIALIZED (
             |  SELECT probe_id, vec_id, rel, 1 AS step FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
             |    ORDER BY rel DESC, vec_id) AS rn FROM sl) WHERE rn = 1)"""
            .stripMargin
        val steps = (2 to pqTopK).map { i =>
          s"""sel$i AS MATERIALIZED (SELECT * FROM sel${i - 1} UNION ALL
             |  SELECT probe_id, vec_id, rel, $i AS step FROM (
             |    SELECT r.probe_id, r.vec_id, r.rel,
             |      ROW_NUMBER() OVER (PARTITION BY r.probe_id
             |        ORDER BY (r.rel - m.msim) * 0.5 DESC, r.vec_id) AS rn
             |    FROM (SELECT * FROM sl WHERE NOT EXISTS (
             |        SELECT 1 FROM sel${i - 1} s WHERE s.probe_id = sl.probe_id
             |          AND s.vec_id = sl.vec_id)) r
             |    JOIN (SELECT ps.probe_id, ps.a AS vec_id, MAX(ps.sim) AS msim
             |          FROM ps JOIN sel${i - 1} s ON s.probe_id = ps.probe_id
             |            AND s.vec_id = ps.b
             |          GROUP BY ps.probe_id, ps.a) m
             |      ON m.probe_id = r.probe_id AND m.vec_id = r.vec_id)
             |  WHERE rn = 1)""".stripMargin
        }
        ("WITH " + (Seq(base) ++ steps).mkString(",\n")) +
          s"\nSELECT probe_id, vec_id, rel, step FROM sel$pqTopK" +
          "\nORDER BY probe_id, step"
      },
      "q260_tier_scoreboard" -> {
        val xcos = sqlCosineFrom(sqlDot("p2.pe", "e.embedding"), "p2.pn2", "e.n2")
        val rcos = sqlCosineFrom(sqlDot("p2.pe", "e2.embedding"), "p2.pn2", "e2.n2")
        // each tier's recall is one scalar subquery with its own
        // nested WITH — the chains reuse CTE names (e, br, r8, adc),
        // so they cannot share a single top-level scope
        def tierScalar(chains: String, hitsSel: String): String =
          s"""(WITH $chains,
             |p2 AS (SELECT vec_id AS probe_id, embedding AS pe, n2 AS pn2
             |       FROM e WHERE ${sqlProbeSlice(61)}),
             |ex AS (SELECT probe_id, vec_id FROM (
             |  SELECT p2.probe_id, e.vec_id,
             |    ROW_NUMBER() OVER (PARTITION BY p2.probe_id
             |      ORDER BY $xcos DESC, e.vec_id) AS rn
             |  FROM p2 JOIN e ON e.vec_id <> p2.probe_id)
             |  WHERE rn <= $pqTopK),
             |hits AS ($hitsSel)
             |SELECT CAST(SUM(CASE WHEN h.vec_id IS NOT NULL
             |    THEN 1 ELSE 0 END) * 1000 // COUNT(*) AS BIGINT)
             |FROM ex LEFT JOIN hits h
             |  ON h.probe_id = ex.probe_id AND h.vec_id = ex.vec_id)"""
            .stripMargin
        val adcTop =
          s"""SELECT probe_id, vec_id FROM (
             |  SELECT probe_id, vec_id,
             |    ROW_NUMBER() OVER (PARTITION BY probe_id
             |      ORDER BY adc_dist, vec_id) AS rn
             |  FROM adc) WHERE rn <= $pqTopK""".stripMargin
        val tcos = sqlCosineFrom(
          sqlDot("tp.embedding", "t.embedding", mrlDims),
          sqlNorm2("tp.embedding", mrlDims), sqlNorm2("t.embedding", mrlDims))
        val tiers = Seq(
          "bq1bit" -> tierScalar(s"$sqlEmb, $sqlBqChain",
            s"SELECT probe_id, vec_id FROM br WHERE rn <= $pqTopK"),
          "bq_rerank" -> tierScalar(s"$sqlEmb, $sqlBqChain",
            s"""SELECT probe_id, vec_id FROM (
               |  SELECT sl.probe_id, sl.vec_id,
               |    ROW_NUMBER() OVER (PARTITION BY sl.probe_id
               |      ORDER BY $rcos DESC, sl.vec_id) AS rn
               |  FROM (SELECT probe_id, vec_id FROM br
               |        WHERE rn <= $pqRerankR) sl
               |  JOIN e e2 ON e2.vec_id = sl.vec_id
               |  JOIN p2 ON p2.probe_id = sl.probe_id)
               |WHERE rn <= $pqTopK""".stripMargin),
          "sq8" -> tierScalar(s"$sqlEmb, $sqlSq8Chain",
            s"SELECT probe_id, vec_id FROM r8 WHERE rn <= $pqTopK"),
          "mrl16" -> tierScalar(sqlEmb,
            s"""SELECT probe_id, vec_id FROM (
               |  SELECT tp.probe_id, t.vec_id,
               |    ROW_NUMBER() OVER (PARTITION BY tp.probe_id
               |      ORDER BY $tcos DESC, t.vec_id) AS rn
               |  FROM (SELECT vec_id AS probe_id, embedding FROM embeddings
               |        WHERE ${sqlProbeSlice(61)}) tp
               |  JOIN (SELECT vec_id, embedding FROM embeddings) t
               |    ON t.vec_id <> tp.probe_id)
               |WHERE rn <= $pqTopK""".stripMargin),
          "pq_nprobe1" -> tierScalar(sqlIvfPqAdcN(1), adcTop),
          "pq_nprobe4" -> tierScalar(sqlIvfPqAdcN(ivfNprobe), adcTop),
          "pq_rerank" -> tierScalar(sqlIvfPqAdcN(ivfNprobe),
            s"""SELECT probe_id, vec_id FROM (
               |  SELECT sl.probe_id, sl.vec_id,
               |    ROW_NUMBER() OVER (PARTITION BY sl.probe_id
               |      ORDER BY $rcos DESC, sl.vec_id) AS rn
               |  FROM (SELECT probe_id, vec_id FROM (
               |      SELECT probe_id, vec_id,
               |        ROW_NUMBER() OVER (PARTITION BY probe_id
               |          ORDER BY adc_dist, vec_id) AS rn
               |      FROM adc) WHERE rn <= $pqRerankR) sl
               |  JOIN e e2 ON e2.vec_id = sl.vec_id
               |  JOIN p2 ON p2.probe_id = sl.probe_id)
               |WHERE rn <= $pqTopK""".stripMargin))
        tiers.map { case (t, scalar) =>
          s"SELECT '$t' AS tier, $scalar AS recall_permille"
        }.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          "\n) ORDER BY recall_permille DESC, tier")
      },
      "q208_ann_mrr" -> {
        val cos = sqlCosineFrom(sqlDot("p.pe", "e.embedding"), "p.pn2", "e.n2")
        s"""WITH ${sqlIvfPqAdcN(ivfNprobe)},
           |pqtop AS (SELECT probe_id, vec_id, CAST(rn AS BIGINT) AS rn FROM (
           |    SELECT probe_id, vec_id,
           |      ROW_NUMBER() OVER (PARTITION BY probe_id
           |        ORDER BY adc_dist, vec_id) AS rn
           |    FROM adc) WHERE rn <= $pqTopK),
           |p AS (SELECT vec_id AS probe_id, embedding AS pe, n2 AS pn2
           |      FROM e WHERE ${sqlProbeSlice(61)}),
           |ex1 AS (SELECT probe_id, vec_id AS true_id FROM (
           |  SELECT p.probe_id, e.vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY p.probe_id
           |      ORDER BY $cos DESC, e.vec_id) AS rn
           |  FROM p JOIN e ON e.vec_id <> p.probe_id)
           |  WHERE rn = 1),
           |j AS (SELECT ex1.probe_id, ex1.true_id,
           |        CAST(COALESCE(pqtop.rn, 0) AS BIGINT) AS hit_rank
           |      FROM ex1 LEFT JOIN pqtop
           |        ON pqtop.probe_id = ex1.probe_id
           |        AND pqtop.vec_id = ex1.true_id),
           |rr AS (SELECT probe_id, true_id, hit_rank,
           |        CASE WHEN hit_rank > 0 THEN 1000000 // hit_rank
           |             ELSE CAST(0 AS BIGINT) END AS rr_micro
           |      FROM j)
           |SELECT probe_id, true_id, hit_rank, rr_micro,
           |  CAST(SUM(rr_micro) OVER () // COUNT(*) OVER () AS BIGINT)
           |    AS mrr_micro
           |FROM rr ORDER BY probe_id""".stripMargin
      },
      "q215_ann_ndcg" -> {
        val cos = sqlCosineFrom(sqlDot("p.pe", "e.embedding"), "p.pn2", "e.n2")
        val wLit = dcgWeightsMicro.mkString("[", ", ", "]")
        s"""WITH ${sqlIvfPqAdcN(ivfNprobe)},
           |pqtop AS (SELECT probe_id, vec_id, rn FROM (
           |    SELECT probe_id, vec_id,
           |      ROW_NUMBER() OVER (PARTITION BY probe_id
           |        ORDER BY adc_dist, vec_id) AS rn
           |    FROM adc) WHERE rn <= $pqTopK),
           |p AS (SELECT vec_id AS probe_id, embedding AS pe, n2 AS pn2
           |      FROM e WHERE ${sqlProbeSlice(61)}),
           |ex AS (SELECT probe_id, vec_id, rn AS ex_rn FROM (
           |  SELECT p.probe_id, e.vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY p.probe_id
           |      ORDER BY $cos DESC, e.vec_id) AS rn
           |  FROM p JOIN e ON e.vec_id <> p.probe_id)
           |  WHERE rn <= $pqTopK),
           |g AS (SELECT pq.probe_id,
           |        CAST(COALESCE($pqTopK + 1 - ex.ex_rn, 0) AS BIGINT)
           |          * ($wLit)[pq.rn] AS gain
           |      FROM pqtop pq LEFT JOIN ex
           |        ON ex.probe_id = pq.probe_id AND ex.vec_id = pq.vec_id),
           |dc AS (SELECT probe_id, CAST(SUM(gain) AS BIGINT) AS dcg_micro
           |      FROM g GROUP BY probe_id)
           |SELECT probe_id, dcg_micro,
           |  dcg_micro * 1000 // $ndcgIdcgMicro AS ndcg_permille,
           |  CAST(SUM(dcg_micro * 1000 // $ndcgIdcgMicro) OVER ()
           |    // COUNT(*) OVER () AS BIGINT) AS mean_ndcg_permille
           |FROM dc ORDER BY probe_id""".stripMargin
      },
      // the from-scratch twin: the delta-merged index must equal the
      // index built over the whole corpus bit-for-bit (delta vec_ids
      // are disjoint)
      "q186_pq_delta_index" -> {
        val cCos = sqlCosineFrom(sqlDot("e.embedding", "c.ce"), "e.n2", "c.cn2")
        s"""WITH $sqlEmb,
           |c AS (SELECT vec_id AS c_id, embedding AS ce, n2 AS cn2
           |      FROM e WHERE vec_id IN (${centroidIds.mkString(",")})),
           |cells AS (
           |  SELECT vec_id, cell FROM (
           |    SELECT e.vec_id, c.c_id AS cell,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |        ORDER BY $cCos DESC, c.c_id) AS rn
           |    FROM e, c) WHERE rn = 1),
           |$sqlPqCodes,
           |pc AS (SELECT vec_id,
           |    CAST(SUM(code * (CAST(1 AS BIGINT) << CAST(2 * m AS INT)))
           |      AS BIGINT) AS packed_code,
           |    CAST(SUM(dist) AS BIGINT) AS qerr
           |  FROM cod GROUP BY vec_id)
           |SELECT cl.cell, CAST(COUNT(*) AS BIGINT) AS n_members,
           |  CAST(SUM(pc.qerr) AS BIGINT) AS sum_qerr,
           |  CAST(SUM(pc.packed_code * (pc.vec_id % 997 + 1)) AS BIGINT)
           |    AS code_fp,
           |  array_to_string(list_sort(list(pc.vec_id)), ',') AS postings
           |FROM pc JOIN cells cl USING (vec_id)
           |GROUP BY cl.cell ORDER BY cl.cell""".stripMargin
      },
      // q186's from-scratch twin over (corpus ∖ tombstones): the
      // upsert-maintained index must equal it bit-for-bit (per-row
      // encode ⇒ end-filtering ≡ input-filtering; the frozen
      // codebook/centroid ids are never in the tombstone slice)
      "q189_pq_index_upsert" -> {
        val cCos = sqlCosineFrom(sqlDot("e.embedding", "c.ce"), "e.n2", "c.cn2")
        s"""WITH $sqlEmb,
           |c AS (SELECT vec_id AS c_id, embedding AS ce, n2 AS cn2
           |      FROM e WHERE vec_id IN (${centroidIds.mkString(",")})),
           |cells AS (
           |  SELECT vec_id, cell FROM (
           |    SELECT e.vec_id, c.c_id AS cell,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |        ORDER BY $cCos DESC, c.c_id) AS rn
           |    FROM e, c) WHERE rn = 1),
           |$sqlPqCodes,
           |pc AS (SELECT vec_id,
           |    CAST(SUM(code * (CAST(1 AS BIGINT) << CAST(2 * m AS INT)))
           |      AS BIGINT) AS packed_code,
           |    CAST(SUM(dist) AS BIGINT) AS qerr
           |  FROM cod GROUP BY vec_id)
           |SELECT cl.cell, CAST(COUNT(*) AS BIGINT) AS n_members,
           |  CAST(SUM(pc.qerr) AS BIGINT) AS sum_qerr,
           |  CAST(SUM(pc.packed_code * (pc.vec_id % 997 + 1)) AS BIGINT)
           |    AS code_fp,
           |  array_to_string(list_sort(list(pc.vec_id)), ',') AS postings
           |FROM pc JOIN cells cl USING (vec_id)
           |WHERE NOT (pc.vec_id % $pqDeleteMod = $pqDeleteRem
           |  AND pc.vec_id < ${ModelOpsQueries.deltaLo})
           |GROUP BY cl.cell ORDER BY cl.cell""".stripMargin
      },
      "q181_pq_refresh" ->
        s"""WITH $sqlPqCodes
           |SELECT cod.m, cod.code AS c, t.d,
           |  CAST(COUNT(*) AS BIGINT) AS n_members,
           |  CAST(SUM(me.mq[CAST(cod.m * $pqSub + t.d + 1 AS INT)]) AS BIGINT)
           |    // COUNT(*) AS new_milli
           |FROM cod JOIN me USING (vec_id)
           |CROSS JOIN (SELECT unnest(range(0, $pqSub)) AS d) t
           |GROUP BY 1, 2, 3 ORDER BY m, c, d""".stripMargin,
      "q180_pq_recall" -> sqlPqRecall(1),
      "q203_semantic_decontam" -> {
        val eCos = sqlCosineFrom(sqlDot("ev.pe", "tr.embedding"), "ev.pn2", "tr.n2")
        s"""WITH $sqlEmb,
           |ev AS (SELECT vec_id AS eval_id, embedding AS pe, n2 AS pn2
           |       FROM e WHERE ${PipelineOpsQueries.sqlIsTestDoc("vec_id")}),
           |tr AS (SELECT * FROM e
           |       WHERE NOT ${PipelineOpsQueries.sqlIsTestDoc("vec_id")}),
           |hits AS (SELECT tr.vec_id, ev.eval_id, $eCos AS cosine
           |         FROM tr JOIN ev ON tr.vec_id <> ev.eval_id
           |         WHERE $eCos > $nearDupThreshold)
           |SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_eval_hits,
           |  MIN(eval_id) AS first_eval_hit, MAX(cosine) AS max_cosine
           |FROM hits GROUP BY 1 ORDER BY vec_id""".stripMargin
      },
      "q31_embedding_neardup" ->
        s"""WITH $sqlEmb,
           |p AS (SELECT vec_id AS probe_id, embedding AS pe, n2 AS pn2
           |      FROM e WHERE ${sqlProbeSlice(50)})
           |SELECT probe_id, vec_id, cosine FROM (
           |  SELECT p.probe_id, e.vec_id, $cos AS cosine
           |  FROM p JOIN e ON e.vec_id <> p.probe_id)
           |WHERE cosine > $nearDupThreshold
           |ORDER BY probe_id, vec_id""".stripMargin)
  }
}
