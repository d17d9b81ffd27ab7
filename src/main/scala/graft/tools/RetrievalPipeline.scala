package graft.tools

import graft.functions.TextFunctions._
import graft.queries.{CorpusOpsQueries, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end retrieval-serving pipeline composed from the library's
  * oracle-gated building blocks — the third composition proof beside
  * [[CurationPipeline]] (curation) and [[IndexPipeline]] (vectors):
  *
  *   1. chunk        (q200's geometry: 50-token windows, stride 40,
  *                    provenance offsets — the serving granule)
  *   2. index        (CorpusOpsQueries.shardedIndex — the ONE
  *                    (term, shard) postings contract all build paths
  *                    share, applied at chunk grain)
  *   3. query        (q110's conjunctive per-shard posting
  *                    intersection — the index answers, never a scan)
  *   4. rank         (q77's BM25: saturating tf against global
  *                    collection stats, at chunk grain)
  *   5. answer       (top-k chunks with (doc_id, chunk_id, start_tok)
  *                    provenance — the citation path)
  *
  * RetrievalPipelineSpec pins index-serving parity (the conjunctive
  * answer from the index ≡ a direct corpus screen) and provenance
  * round-trip (each answered chunk re-slices from its source doc to
  * exactly the indexed tokens). Scale shapes are inherited: chunking
  * is a pure map, the index is (term, shard)-bounded rows, a query
  * touches |terms|·|shards| postings, BM25 stats broadcast onto the
  * matched-chunk slice only.
  */
object RetrievalPipeline {

  val chunkW = 50
  val chunkStride = 40
  private val chunkOverlap = chunkW - chunkStride
  /** chunk_uid = doc_id * chunkUidBase + chunk_id — unique because
    * chunks/doc = ⌈(n−overlap)/stride⌉ ≪ base for any real doc.
    */
  val chunkUidBase = 100000L
  private val bm25K1 = 1.2
  private val bm25B = 0.75

  /** The chunk table (chunk_uid, doc_id, chunk_id, start_tok, text) —
    * q200's geometry with the chunk text carried for indexing.
    */
  def chunks(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
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
        concat_ws(" ",
          slice(col("toks"), col("c") * chunkStride + 1, lit(chunkW)))
          .as("text"))
      .withColumn("chunk_uid",
        col("doc_id") * chunkUidBase + col("chunk_id"))

  /** Conjunctive AND over the chunk index — q110's per-shard posting
    * intersection generalized to N terms (iterated pairwise
    * intersection; shards in parallel, cost ∝ posting lengths).
    * Returns matching chunk_uids.
    */
  def conjunctiveQuery(index: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty)
    val posts = terms.zipWithIndex.map { case (t, i) =>
      index.where(col("term") === t)
        .select(col("shard"), col("postings").as(s"p$i"))
    }
    val joined = posts.reduceLeft { (acc, nxt) =>
      // UNHINTED (the q150 rule): posting volume is term-dependent —
      // stats choose broadcast vs shard-keyed shuffle
      acc.join(nxt, "shard")
    }
    val inter = (1 until terms.size).foldLeft(col("p0")) { (acc, i) =>
      array_intersect(acc, col(s"p$i"))
    }
    joined.select(explode(inter).as("chunk_uid"))
  }

  /** BM25 ranking of the matched chunks for the query terms — q77's
    * exact formula at chunk grain; collection stats (df, avgdl) come
    * from the WHOLE chunk table (one big scan), then broadcast onto
    * the matched slice.
    */
  def rankBm25(chunkTable: DataFrame, matched: DataFrame,
      terms: Seq[String], topK: Int): DataFrame = {
    val withToks = chunkTable
      .select(col("chunk_uid"), col("doc_id"), col("chunk_id"),
        col("start_tok"), tokens(col("text")).as("toks"))
    val dl = withToks.select(col("chunk_uid"),
      size(col("toks")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_chunks"), sum(col("dl")).as("total_dl"))
    val df = withToks
      .select(explode(array_distinct(col("toks"))).as("term"))
      .where(col("term").isin(terms: _*))
      .groupBy("term").agg(count(lit(1)).as("doc_freq"))
    val tf = withToks
      .join(matched, "chunk_uid", "leftsemi")
      .select(col("chunk_uid"), col("doc_id"), col("chunk_id"),
        col("start_tok"), explode(col("toks")).as("term"))
      .where(col("term").isin(terms: _*))
      .groupBy("chunk_uid", "doc_id", "chunk_id", "start_tok", "term")
      .agg(count(lit(1)).as("tf"))
    val k1 = lit(BigDecimal(bm25K1)).cast("double")
    val b = lit(BigDecimal(bm25B)).cast("double")
    val avgdl = col("total_dl").cast("double") / col("n_chunks").cast("double")
    val tfd = col("tf").cast("double")
    val idf = (col("n_chunks").cast("double") - col("doc_freq").cast("double")
      + lit(0.5)) / (col("doc_freq").cast("double") + lit(0.5))
    val termScore = (tfd * (k1 + lit(1.0)) /
      (tfd + k1 * (lit(1.0) - b + b * (col("dl").cast("double") / avgdl)))) * idf
    val matchedDl = dl.join(matched, "chunk_uid", "leftsemi")
    val scored = tf
      .join(broadcast(df), "term")  // hint audit: query-bounded (df rows for the query terms only)
      .join(broadcast(matchedDl), "chunk_uid")  // hint audit: query-bounded (lengths of the matched chunks)
      .crossJoin(broadcast(stats))  // hint audit: scalar (one-row collection stats)
      .withColumn("term_score", termScore)
      .groupBy("chunk_uid", "doc_id", "chunk_id", "start_tok")
      .agg(sum(col("term_score")).as("score"))
    val w = Window.orderBy(desc("score"), asc("chunk_uid"))
    // single-partition window over the MATCHED slice only (query-
    // bounded, not corpus-bounded)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .orderBy("rank")
  }

  case class Answer(
      rank: Int, docId: Long, chunkId: Long, startTok: Long, score: Double)

  /** Full run: build chunk table + index, answer `terms` with top-k
    * BM25-ranked provenance rows.
    */
  def run(spark: SparkSession, sfDir: String, terms: Seq[String],
      topK: Int = 5): Seq[Answer] = {
    val chunkTable = chunks(spark, sfDir).cache()
    try {
      val index = CorpusOpsQueries.shardedIndex(
        chunkTable.select(col("chunk_uid").as("doc_id"), col("text")))
        .select(col("term"), col("shard"), col("postings"))
      val matched = conjunctiveQuery(index, terms)
      rankBm25(chunkTable, matched, terms, topK).collect().map { r =>
        Answer(r.getAs[Int]("rank"), r.getAs[Long]("doc_id"),
          r.getAs[Long]("chunk_id"), r.getAs[Long]("start_tok"),
          r.getAs[Double]("score"))
      }.toSeq
    } finally chunkTable.unpersist(blocking = false)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val terms = if (args.length > 1) args(1).split(",").toSeq
      else Seq("dup", "spark")
    val spark = graft.GraftSession.getOrCreate("graft-retrieval-pipeline")
    val answers = run(spark, sfDir, terms)
    println(s"query: ${terms.mkString(" AND ")} -> ${answers.size} answers")
    answers.foreach { a =>
      println(f"  #${a.rank} doc=${a.docId} chunk=${a.chunkId} " +
        f"start_tok=${a.startTok} score=${a.score}%.4f")
    }
    spark.stop()
  }
}
