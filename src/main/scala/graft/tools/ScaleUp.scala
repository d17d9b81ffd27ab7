package graft.tools

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-cliff harness: replicates the driver fixture `factor`× with
  * shifted keys, writing the same file-per-table layout, so Bench can
  * run at ~sf1 and expose cliffs sf0.1 hides (broadcast-threshold
  * flips, window/state memory, candidate-pair blowups). This is a PERF
  * experiment only — correctness stays oracle-gated on the driver's
  * own fixtures.
  *
  * Replication rules keep per-query work scaling ~linearly by
  * construction, so any superlinear BENCH time is the plan's fault,
  * not the generator's:
  *  - dims (region/nation/customer/supplier/part): copied as-is, so
  *    fact→dim joins keep their multiplicity (and broadcastability —
  *    real dims grow far slower than facts);
  *  - orders+lineitem: copy i shifts o_orderkey/l_orderkey by the same
  *    constant — the order→lineitem join output scales ×factor, not
  *    ×factor²;
  *  - events: event_id and user_id shift — ×factor users with the same
  *    per-user history, so sessionization/funnel state scales in keys;
  *  - documents: doc_id shifts and the TEXT is scrambled per copy with
  *    a copy-specific consonant/vowel permutation — within-copy
  *    dup/near-dup structure is preserved (both members of a pair get
  *    the same transform) while cross-copy shingle overlap is
  *    destroyed, so LSH candidate pairs scale ×factor instead of the
  *    ×factor² a verbatim copy would fabricate;
  *  - embeddings: vec_id shifts and copy i's vectors get a cyclic
  *    rotation of their dimensions by i positions — the documents
  *    convention applied to vectors: a rotation preserves EVERY
  *    within-copy dot product and norm exactly (planted probe→source
  *    geometry, cell shapes, quantization errors all carry over)
  *    while cross-copy vectors decorrelate, so LSH/IVF bucket
  *    populations scale ×factor instead of ×factor² and no vector
  *    acquires factor−1 exact duplicates. (Verbatim copies made every
  *    sf1 recall number a fixture artifact: each planted source tied
  *    with 9 identical twins that no index — exact scan included —
  *    could legitimately separate, and every node's k-NN top-M
  *    filled with its own cos=1 clones.)
  *
  * Usage: `runMain graft.tools.ScaleUp <srcDir> <destDir> <factor>`.
  */
object ScaleUp {

  private val dimTables = Seq("region", "nation", "customer", "supplier", "part")

  /** Ten distinct rotations of this alphabet give factor ≤ 10 copies
    * pairwise-different scrambles; identity for copy 0.
    */
  private val alphabet = "aeiousnrtl"

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleUp <srcDir> <destDir> <factor>")
    val Array(src, dest, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1 && factor <= alphabet.length,
      s"factor must be in [1, ${alphabet.length}]")
    // the factory returns a caller's running session (e.g. the shared
    // test session) untouched — only stop what this tool created
    val preexisting = SparkSession.getDefaultSession
      .orElse(SparkSession.getActiveSession).isDefined
    val spark = graft.GraftSession.getOrCreate("graft-scaleup")
    Files.createDirectories(Paths.get(dest))

    for (t <- dimTables)
      Files.copy(Paths.get(s"$src/$t.parquet"), Paths.get(s"$dest/$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)

    def table(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def shiftOf(df: DataFrame, idCol: String): Long =
      df.agg(max(col(idCol))).head.getLong(0) + 1

    def replicate(name: String, transform: (DataFrame, Int) => DataFrame): Unit = {
      val base = table(name)
      val out = (0 until factor).map(i => transform(base, i)).reduce(_ union _)
      // match the fixture's one-FILE-per-table layout (q59 stages the
      // events file with Files.copy, which needs a regular file)
      val tmp = s"$dest/.tmp_$name"
      out.coalesce(1).write.mode("overwrite").parquet(tmp)
      val listing = Files.list(Paths.get(tmp))
      val part =
        try listing.filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst.get
        finally listing.close()
      Files.move(part, Paths.get(s"$dest/$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      deleteRecursively(Paths.get(tmp))
      println(s"$name: ${out.columns.mkString(",")} ×$factor")
    }

    val orderShift = shiftOf(table("orders"), "o_orderkey")
    replicate("orders", (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * orderShift)))
    replicate("lineitem", (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * orderShift)))

    val eventShift = shiftOf(table("events"), "event_id")
    val userShift = shiftOf(table("events"), "user_id")
    replicate("events", (df, i) => df
      .withColumn("event_id", col("event_id") + lit(i * eventShift))
      .withColumn("user_id", col("user_id") + lit(i * userShift)))

    val docShift = shiftOf(table("documents"), "doc_id")
    replicate("documents", (df, i) => {
      val scrambled =
        if (i == 0) col("text")
        else translate(col("text"), alphabet, alphabet.drop(i) + alphabet.take(i))
      df.withColumn("doc_id", col("doc_id") + lit(i * docShift))
        .withColumn("text", scrambled)
    })

    val vecShift = shiftOf(table("embeddings"), "vec_id")
    replicate("embeddings", (df, i) => {
      // copy-i decorrelation = a SIGNED PERMUTATION (rotate by
      // i mod dim, then flip the sign of dimension j when bit
      // (j mod 31) of i is set). Orthogonal, so within-copy
      // geometry — every inner product and cosine — is preserved
      // exactly; cross-copy vectors decorrelate. The mod keeps the
      // slice lengths non-negative at any factor, and the sign mask
      // makes every copy i >= 1 distinct even when i mod dim == 0
      // (a bare full rotation is the identity — the exact-clone
      // artifact round 15 removed would silently return).
      val rotated =
        if (i == 0) col("embedding")
        else expr(
          s"""transform(
             |  concat(
             |    slice(embedding, pmod($i, size(embedding)) + 1,
             |          size(embedding) - pmod($i, size(embedding))),
             |    slice(embedding, 1, pmod($i, size(embedding)))),
             |  (x, j) -> IF((shiftright($i, j % 31) & 1) = 1, -x, x))
             |""".stripMargin)
      df.withColumn("vec_id", col("vec_id") + lit(i * vecShift))
        .withColumn("embedding", rotated)
    })

    if (!preexisting) spark.stop()
  }

  private def deleteRecursively(p: Path): Unit =
    graft.util.FileUtils.deleteRecursively(p)
}
