package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing over an opaque binary payload (q32).
  *
  * The corpus has no real image/audio bytes, so the payload is the
  * UTF-8 encoding of `documents.text` — the POINT is the Spark-side
  * shape: a `binary` column + typed metadata struct flowing through a
  * columnar plan, with "decode" as cheap deterministic expressions
  * (byte length, content digest, frame sampling by fixed stride). The
  * real decoder stub (mapPartitions batch interface where an image
  * library would sit) lives in [[graft.multimodal.MultimodalPipeline]]
  * and is exercised by its spec — this query keeps the oracle-checkable
  * expression surface.
  */
object MultimodalQueries extends graft.QueryFamily {
  // one-generation cache handle (see CacheSlot)
  private val lastFrames = new graft.util.CacheSlot

  private val frameBytes = 256
  private val frameSigBytes = 128

  /** q160 verify band. The 4×16-bit pigeonhole chunk join is COMPLETE
    * for hamming ≤ 3 (the aligned-raster near-dup band — AHashSpec
    * pins a few-pixel brightening there); beyond 3 it is deliberate
    * multi-probe best-effort recall (a pair surfaces iff some chunk
    * survives untouched), which is where the fixture's text payloads
    * land: byte INSERTIONS shift every later cell boundary, so a
    * rewrite pair reads hamming ~8-13 even when the raster analog
    * would be ≤3. The oracle mirrors the chunk join itself, so the
    * gate is bit-identical including the recall behavior — the q27
    * banded-LSH convention (candidates probabilistic, gate exact).
    */
  private val phashMaxHamming = 12

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q32_multimodal_features" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          encode(col("text"), "UTF-8").as("payload"),
          struct((col("n_chars") % 64 * 10 + 64).as("width"),
            (col("doc_id") % 48 + 16).as("height"),
            lit("fake/rgb8").as("format")).as("meta"))
        .select(col("doc_id"),
          length(col("payload")).as("byte_len"),
          md5(col("payload")).as("content_md5"),
          col("meta.width").as("width"),
          col("meta.height").as("height"),
          // ceil division — an exact-multiple payload fills its last
          // frame exactly, it doesn't start a new one
          expr(s"(length(payload) + ${frameBytes - 1}) div $frameBytes")
            .as("n_frames"),
          md5(substring(col("payload"), 1, frameSigBytes)).as("frame0_sig"))
        .orderBy("doc_id")
    }),

    // frame sampling as a relational surface: every 2nd fixed-width
    // frame as its own row with a content hash — the fan-out shape of
    // MultimodalPipeline.sampleFrames. NOTE: frames here are CHARACTER
    // slices of the text (both engines), which coincides with q32's
    // byte-based n_frames only because the corpus is ASCII; the typed
    // pipeline slices real payload bytes. Explode of a when-guarded
    // sequence; everything else scan-stage.
    "q56_frame_sample" -> ((s, dir) => {
      import graft.functions.TextFunctions.polyHash
      val nFrames = expr(
        s"(length(text) + ${frameBytes - 1}) div $frameBytes").cast("int")
      Tables(s, dir, "documents")
        .where(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("text"), explode(
          when(nFrames >= 1, sequence(lit(0), nFrames - 1, lit(2)))).as("frame_idx"))
        .select(col("doc_id"), col("frame_idx"),
          length(substring_index_frame(col("text"), col("frame_idx"))).as("frame_len"),
          polyHash(substring_index_frame(col("text"), col("frame_idx"))).as("frame_hash"))
        .orderBy("doc_id", "frame_idx")
    }),

    // Perceptual-hash near-dup over the BINARY payload column — the
    // dedup story for the one fixture column text dedup (q25-q28,
    // q116) and embedding dedup (q91) don't cover. AHash62 computes
    // the classic average-hash over the payload's byte grid in one
    // codegen'd scan pass (for real media these are the decoded
    // raster bytes — PpmDecoder's P6 output drops straight in, pinned
    // by AHashSpec); candidates come from the q28 pigeonhole chunk
    // join on the 62-bit fingerprint (4×16-bit chunk keys — COMPLETE
    // for hamming ≤ 3, never an all-pairs scan; bucket keys spread
    // over 65k values so candidates stay ∝ true near-dups at cluster
    // scale). The oracle recomputes the hash from the same integer
    // byte arithmetic via ascii() (payload = UTF-8 text bytes, ASCII
    // by the q56 convention).
    "q160_phash_neardup" -> ((s, dir) => {
      import graft.functions.TextFunctions.{simhashChunk, simhashChunks}
      val ph = Tables(s, dir, "documents")
        .where(length(col("text")) > 0)
        .select(col("doc_id"),
          graft.functions.AHash62(encode(col("text"), "UTF-8")).as("ph"))
      val chunkStructs = (0 until simhashChunks).map { c =>
        struct(lit(c).as("ci"), simhashChunk(col("ph"), c).as("cv"))
      }
      val chunks = ph.select(col("doc_id"), col("ph"),
        explode(array(chunkStructs: _*)).as("ck"))
        .select(col("doc_id"), col("ph"), col("ck.ci"), col("ck.cv"))
      chunks.as("a")
        .join(chunks.as("b"),
          col("a.ci") === col("b.ci") && col("a.cv") === col("b.cv") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.ph").as("pha"), col("b.ph").as("phb"))
        .distinct()
        .select(col("doc_a"), col("doc_b"),
          bit_count(col("pha").bitwiseXOR(col("phb"))).as("hamming"))
        .where(col("hamming") <= phashMaxHamming)
        .orderBy("doc_a", "doc_b")
    }),

    // Frame-level containment dedup — the VIDEO near-dup shape (two
    // payloads sharing whole frames are cuts/re-encodes of the same
    // material even when their overall fingerprints differ): distinct
    // frame hashes per doc (fixed-width payload slices, the q56 frame
    // convention), one equi self-join on the frame hash, per-pair
    // shared-frame count + containment vs the smaller side. Frame
    // hashes are near-unique (unlike tokens), so the inverted-index
    // join volume is ∝ truly-shared frames — never Σ df² blowup; all
    // joins UNHINTED (frame and count relations are corpus-scaled —
    // the hint-audit rule). Complements q160: aHash catches globally-
    // similar payloads, this catches exact shared segments inside
    // otherwise-different ones.
    "q162_frame_containment" -> ((s, dir) => {
      import graft.functions.TextFunctions.polyHash
      val nFrames = expr(
        s"(length(text) + ${frameBytes - 1}) div $frameBytes").cast("int")
      // cached: consumed by the per-doc count AND both self-join sides
      // — uncached, each derivation re-hashes every frame of the corpus
      val f = lastFrames.swap(Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"), explode(
          when(nFrames >= 1, sequence(lit(0), nFrames - 1))).as("fi"))
        .select(col("doc_id"),
          polyHash(substring_index_frame(col("text"), col("fi"))).as("fh"))
        .distinct()
        .cache())
      val cnt = f.groupBy("doc_id").agg(count(lit(1)).as("nf"))
      f.as("a")
        .join(f.as("b"),
          col("a.fh") === col("b.fh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .join(cnt.select(col("doc_id").as("doc_a"), col("nf").as("na")), "doc_a")
        .join(cnt.select(col("doc_id").as("doc_b"), col("nf").as("nb")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          expr("n_shared * 1000 div least(na, nb)").as("containment_permille"))
        .orderBy("doc_a", "doc_b")
    }))

  /** Frame `i` of a text payload: chars [i*frameBytes, +frameBytes). */
  private def substring_index_frame(text: org.apache.spark.sql.Column,
      idx: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    substr(text, (idx * frameBytes + 1).cast("int"), lit(frameBytes))

  def oracle: Map[String, String] = Map(
    "q32_multimodal_features" ->
      s"""SELECT doc_id,
         |  CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
         |  md5(text) AS content_md5,
         |  n_chars % 64 * 10 + 64 AS width,
         |  doc_id % 48 + 16 AS height,
         |  (octet_length(encode(text)) + ${frameBytes - 1}) // $frameBytes AS n_frames,
         |  md5(substring(text, 1, $frameSigBytes)) AS frame0_sig
         |FROM documents
         |ORDER BY doc_id""".stripMargin,
    "q56_frame_sample" -> {
      import graft.functions.TextFunctions.sqlPolyHash
      val frame = s"substring(text, CAST(frame_idx * $frameBytes + 1 AS INT), $frameBytes)"
      s"""SELECT doc_id, frame_idx,
         |  length($frame) AS frame_len,
         |  ${sqlPolyHash(frame)} AS frame_hash
         |FROM (SELECT doc_id, text,
         |    unnest(range(0, (length(text) + ${frameBytes - 1}) // $frameBytes, 2))
         |      AS frame_idx
         |  FROM documents WHERE doc_id % 7 = 0)
         |ORDER BY doc_id, frame_idx""".stripMargin
    },
    "q160_phash_neardup" -> {
      import graft.functions.AHash62.cells
      import graft.functions.TextFunctions.{simhashChunks, sqlSimhashChunk}
      // bit c of the average hash: cell mean >= global mean as the
      // division-free integer comparison cellSum*n >= total*cellLen,
      // cell bounds floor(c*n/62) — the exact arithmetic of
      // AHash62.hash, one generated term per bit (the sqlSimhash
      // convention)
      val bits = (0 until cells).map { c =>
        val lo = s"($c * n) // $cells"
        val hi = s"(${c + 1} * n) // $cells"
        s"CASE WHEN $hi > $lo AND COALESCE(list_sum(" +
          s"cs[CAST($lo + 1 AS INT):CAST($hi AS INT)]), 0) * n >= " +
          s"tot * ($hi - $lo) THEN ${1L << c} ELSE 0 END"
      }.mkString("(", " + ", ")")
      val chunkArms = (0 until simhashChunks)
        .map(c => s"SELECT doc_id, ph, $c AS ci, ${sqlSimhashChunk("ph", c)} AS cv FROM ph")
        .mkString("\nUNION ALL\n")
      s"""WITH codes AS (SELECT doc_id,
         |    list_transform(string_split(text, ''),
         |      c -> CAST(ascii(c) AS BIGINT)) AS cs
         |  FROM documents WHERE length(text) > 0),
         |st AS (SELECT doc_id, cs, len(cs) AS n,
         |    COALESCE(list_sum(cs), 0) AS tot FROM codes),
         |ph AS (SELECT doc_id, $bits AS ph FROM st),
         |chunks AS (
         |$chunkArms),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.ph AS pha, b.ph AS phb
         |  FROM chunks a JOIN chunks b
         |    ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, hamming FROM (
         |  SELECT doc_a, doc_b, bit_count(xor(pha, phb)) AS hamming FROM cand)
         |WHERE hamming <= $phashMaxHamming
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    "q162_frame_containment" -> {
      import graft.functions.TextFunctions.sqlPolyHash
      val frame = s"substring(text, CAST(fi * $frameBytes + 1 AS INT), $frameBytes)"
      s"""WITH f AS (SELECT DISTINCT doc_id, ${sqlPolyHash(frame)} AS fh
         |  FROM (SELECT doc_id, text,
         |      unnest(range(0, (length(text) + ${frameBytes - 1}) // $frameBytes))
         |        AS fi
         |    FROM documents)),
         |c AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nf FROM f GROUP BY 1),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |        CAST(COUNT(*) AS BIGINT) AS n_shared
         |      FROM f a JOIN f b ON a.fh = b.fh AND a.doc_id < b.doc_id
         |      GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_shared,
         |  CAST(n_shared * 1000 // least(ca.nf, cb.nf) AS BIGINT)
         |    AS containment_permille
         |FROM p JOIN c ca ON ca.doc_id = doc_a
         |       JOIN c cb ON cb.doc_id = doc_b
         |ORDER BY doc_a, doc_b""".stripMargin
    })
}
