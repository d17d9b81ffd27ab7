package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate("graft-bench")
    val cpus = spark.conf.get("spark.sql.shuffle.partitions")
    // Warm EVERY query once at the smallest scale factor: plan shapes are
    // identical across SFs, so this compiles each query's generated code
    // (Janino, ~0.5-2s per distinct wholestage) without touching the
    // timed data. The timed runs below then measure the steady-state data
    // path — the quantity that scales to a real cluster, where codegen
    // compile time amortizes to zero. Falls back to the bench dir if the
    // warmup SF is absent.
    val warmDir = {
      val d = new java.io.File(sfDir).getParentFile
      val cand = new java.io.File(d, "sf0.001")
      if (cand.isDirectory) cand.getAbsolutePath else sfDir
    }
    // Execute the query's OWN physical plan (toRdd): under .count()
    // Catalyst prunes the final projections and sorts, so map-only
    // queries (fingerprints, quality scores, ...) would time the bare
    // parquet scan instead of their actual expression work.
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.queryExecution.toRdd.foreach(_ => ())
    SparkEntry.queries.foreach { case (_, fn) =>
      try run(fn(spark, warmDir)) catch { case _: Throwable => () }
      spark.catalog.clearCache() // per-query cache()s must not accumulate
    }
    // Timed phase: 3 FULL PASSES over the suite, per-query MIN across
    // passes (min over successful runs is the standard low-variance
    // steady-state estimator at these sub-second scales). A query's
    // repetitions are deliberately NOT back-to-back: a transient
    // (host contention, a background JVM event) longer than a query's
    // runtime would hold every back-to-back sample of it, while
    // pass-interleaving puts ~a full suite length between samples and a
    // transient must recur over the same region of EVERY pass to
    // corrupt a min.
    val names = SparkEntry.queries.keys.toSeq
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    val failures = scala.collection.mutable.Map.empty[String, String]
    val passTotals = (1 to 3).map { _ =>
      val p0 = System.nanoTime()
      SparkEntry.queries.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          run(fn(spark, sfDir))
          samples(name) = (System.nanoTime() - t0) / 1e9 :: samples(name)
        } catch { case e: Throwable =>
          failures(name) = e.getClass.getName
          System.err.println(s"[bench] $name failed: $e")
        }
        spark.catalog.clearCache()
      }
      (System.nanoTime() - p0) / 1e9
    }
    val results = names.map { name =>
      val dts = samples(name)
      name -> (if (dts.nonEmpty) Right(dts.min) else Left(failures(name)))
    }
    // KEYED BY CPU COUNT so an 8-core scaling run cannot clobber the
    // main run's per-query record; cwd-relative so running Bench from
    // another checkout leaves this one alone.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"bench_queries_c$cpus.json")
    val (line, summary) =
      report(results, SparkEntry.families, sfDir, passTotals, outPath)
    // The FULL contract line first, then the SHORT summary line last:
    // a run's recorded artifact keeps only a ~2.4 KB stdout TAIL, and
    // with 300+ queries the full line's head falls outside it. The
    // full line also persists to the queries file, so round-over-round
    // per-query comparison does not depend on tail-capture luck.
    println(line)
    println(summary)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outPath).toAbsolutePath, line + "\n")
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"WARN: bench output write to $outPath failed: $e")
    }
    spark.stop()
  }

  /** Failed queries named in the summary line; the queries file has all. */
  val summaryFailures = 5

  /** The bench's two stdout lines from each query's outcome: its fastest
    * successful pass in seconds, or the exception class of its last
    * failure when every pass failed.
    *
    *  - the full line (`"metric":"total"`) carries every successful
    *    query's time under `queries` and every failed one's exception
    *    class under `failed`;
    *  - the summary line (`"metric":"total_summary"`, a distinct name so
    *    a line-oriented consumer never double-counts) carries the
    *    top-20 slowest queries, the per-family subtotals, `n_failed` and
    *    the first [[summaryFailures]] failures, sized to fit the
    *    ~2.4 KB stdout tail a run's record keeps.
    *
    * `value` sums successful queries only: a failure has no time, and
    * counting it would make a broken query look fast.
    */
  def report(results: Seq[(String, Either[String, Double])],
             families: Map[String, Set[String]], sfDir: String,
             passSec: Seq[Double], queriesFile: String): (String, String) = {
    // ms precision keeps the one-line JSON inside the tail window.
    // Locale.ROOT: a comma-decimal default locale would emit "1,234".
    def fmt(v: Double, digits: Int = 3): String =
      String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def str(s: String): String = "\"" + s + "\""
    val ok = results.collect { case (k, Right(v)) => k -> v }
    val failed = results.collect { case (k, Left(cls)) => k -> str(cls) }
    val total = fmt(ok.map(_._2).sum)
    // pass_sec: a pass far above the others localizes a transient to it
    val passJson = passSec.map(fmt(_, 2)).mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${obj(ok.map { case (k, v) => k -> fmt(v) })},"failed":${obj(failed)},"sf":"$sfDir","pass_sec":$passJson}"""
    val top20 = obj(ok.sortBy(-_._2).take(20).map { case (k, v) => k -> fmt(v) })
    val famJson = obj(families.toSeq.sortBy(_._1).map { case (fam, members) =>
      fam -> fmt(ok.collect { case (k, v) if members(k) => v }.sum)
    })
    val summary =
      s"""{"metric":"total_summary","value":$total,"unit":"sec","queries":$top20,"families":$famJson,"sf":"$sfDir","pass_sec":$passJson,"n_queries":${results.size},"n_failed":${failed.size},"failed":${obj(failed.take(summaryFailures))},"queries_file":"$queriesFile"}"""
    (line, summary)
  }
}
