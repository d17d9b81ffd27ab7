package graft.tools

import graft.functions.TextFunctions._
import graft.queries.Tables
import org.apache.spark.sql.functions._

/** Scratch stage-level profiler for the slow bench queries (not part of
  * the driver contract; run manually while optimizing).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.getOrCreate("graft-profile")

    val tally = new JobTally(spark)
    /** Runs `f` cold, then warm, reporting each pass through the tally. */
    def time(name: String)(f: => Long): Unit = {
      for (pass <- Seq("cold", "warm")) {
        var rows = 0L
        val wall = tally.time(s"$name/$pass") { rows = f }
        println(f"[prof] $name%-28s $pass wall=$wall%6.3f " +
          f"taskSec=${tally.taskMs / 1e3}%7.3f jobs=${tally.jobs}%3d " +
          f"stages=${tally.stages}%3d rows=$rows%d")
      }
      spark.catalog.clearCache()
    }

    /** Full-plan execution — .count() would prune final projections. */
    def exec(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.toRdd.count()

    // warm the session
    Tables(spark, sfDir, "documents").count()

    val hashArr = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), array_distinct(
        graft.functions.ShingleHash(tokens(col("text")), 3)).as("hs"))

    time("hashArrays")(hashArr.count())
    time("minhash-sig")(hashArr.select(col("doc_id"),
      graft.functions.MinHashSig(col("hs")).as("sig")).where(col("sig").isNotNull).count())
    time("simhash-pack")(hashArr.select(col("doc_id"),
      graft.functions.SimHashPack(col("hs")).as("sh")).where(col("sh").isNotNull).count())

    // q28 candidate stage without the final distinct/orderBy
    {
      val sh = hashArr.select(col("doc_id"),
        graft.functions.SimHashPack(col("hs")).as("sh"))
        .where(col("sh").isNotNull).cache()
      val chunkStructs = (0 until simhashChunks).map { c =>
        struct(lit(c).as("ci"), simhashChunk(col("sh"), c).as("cv"))
      }
      val chunks = sh.select(col("doc_id"), col("sh"),
        explode(array(chunkStructs: _*)).as("ck"))
        .select(col("doc_id"), col("sh"), col("ck.ci"), col("ck.cv"))
      time("q28-chunk-join-raw")(chunks.as("a")
        .join(chunks.as("b"),
          col("a.ci") === col("b.ci") && col("a.cv") === col("b.cv") &&
            col("a.doc_id") < col("b.doc_id")).count())
      sh.unpersist()
    }

    val full = graft.SparkEntry.queries
    Seq("q26_ngram_jaccard", "q27_minhash_lsh", "q28_simhash",
      "q33_sessionize", "q38_tfidf_terms").foreach { q =>
      time(q)(exec(full(q)(spark, sfDir)))
    }

    // q26 gram stage alone
    time("q26-grams")(Tables(spark, sfDir, "documents")
      .where(col("doc_id") % 5 === 0 && col("doc_id") < 2500)
      .select(col("doc_id"), explode(array_distinct(
        transform(when(length(col("text")) >= 4,
          sequence(lit(1), length(col("text")) - 3)),
          i => substr(lower(col("text")), i, lit(4))))).as("g")).count())

    spark.stop()
  }
}
