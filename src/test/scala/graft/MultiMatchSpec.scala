package graft

import graft.analyze.ClusterAnalyzer
import graft.classify.IssueClassifier
import graft.functions.MultiMatch
import graft.model.Schemas
import graft.parse.LogLineParser
import graft.plans.GraftExtensions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** MultiMatch custom Expression: equivalence with the built-in 14-rlike
  * classifier (per bit, and as `ClusterAnalyzer.classify`'s derived
  * columns), codegen path, and SQL registration via
  * SparkSessionExtensions.
  */
class MultiMatchSpec extends SparkSuite {

  private val fixtures = Seq(
    "Read timed out after 5000ms", // timeout
    "java.lang.OutOfMemoryError: Java heap space", // oom
    "coordinator timeout while handling request", // timeout + coordinator
    "heap pressure detected at 92%", // heap (warning)
    "slow query detected: SELECT * FROM ks.t", // slow_query
    "nothing interesting here", // none
    "GC pause of 1200ms exceeded threshold; dropped 42 messages") // gc+dropped

  test("issueMask bit i == rlike(pattern i) for every fixture and pattern") {
    import spark.implicits._
    val df = fixtures.toDF("msg")
    val maskCol = MultiMatch.issueMask(col("msg"))
    val rlikes = IssueClassifier.allPatterns.zipWithIndex.map {
      case ((_, _, p), i) => col("msg").rlike(p).as(s"r$i")
    }
    val rows = df.select((maskCol.as("mask") +: rlikes): _*).collect()
    rows.foreach { r =>
      val mask = r.getAs[Long]("mask")
      IssueClassifier.allPatterns.indices.foreach { i =>
        assert(((mask >> i) & 1L) === (if (r.getAs[Boolean](s"r$i")) 1L else 0L))
      }
    }
  }

  /** `ClusterAnalyzer.classify(raw)` against the rlike reference: the
    * parse with [[IssueClassifier.issues]], `isError` and `isWarning`,
    * same schema and column order, and no row on either side that the
    * other lacks.
    */
  private def assertClassifyMatchesRlike(raw: DataFrame): Unit = {
    val p = LogLineParser.parseKeepingUnmatched(raw)
    val reference = p.select(p.columns.toSeq.map(col) ++ Seq(
      when(col("parsed"), IssueClassifier.issues(col("message")))
        .otherwise(array().cast(ArrayType(Schemas.issue))).as("issues"),
      (col("parsed") && IssueClassifier.isError(col("level"), col("message"))).as("is_error"),
      (col("parsed") && IssueClassifier.isWarning(col("level"), col("message"))).as("is_warning")): _*)
    val got = ClusterAnalyzer.classify(raw)
    assert(got.schema == reference.schema)
    assert(got.exceptAll(reference).count() === 0)
    assert(reference.exceptAll(got).count() === 0)
  }

  private val levels = Seq("ERROR", "WARN", "INFO", "DEBUG")

  test("classify ≡ IssueClassifier's rlike forms on the documents fixture") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text")).collect().map(_.getString(0)).toSeq
    assert(docs.nonEmpty)
    import spark.implicits._
    assertClassifyMatchesRlike(docs.zipWithIndex.map { case (t, i) =>
      ("n", i + 1L, s"${levels(i % 4)} [t$i] [main] o.a.c.C:$i - $t")
    }.toDF("node", "line_number", "value"))
  }

  test("classify ≡ IssueClassifier on level-only, unparsed and error+warning lines") {
    import spark.implicits._
    val lines = fixtures.zipWithIndex.map { case (m, i) => s"${levels(i % 4)} [t] [main] C:$i - $m" } ++ Seq(
      "ERROR [t] [main] C:1 - nothing matches here", // an error by level alone
      "WARN  [t] [main] C:2 - still nothing", // a warning by level alone
      "\tat org.apache.cassandra.Foo.bar(Foo.java:1)", // unparsed
      "", // unparsed, empty
      "INFO [t] [main] C:3 - Read timed out under heap pressure", // timeout + heap
      "WARN [t] [main] C:4 - compaction failed; slow query") // compaction + slow_query
    val raw = lines.zipWithIndex.map { case (l, i) => ("n", i + 1L, l) }.toDF("node", "line_number", "value")
    assertClassifyMatchesRlike(raw)
    val byLine = ClusterAnalyzer.classify(raw).select("value", "is_error", "is_warning").collect()
      .map(r => r.getString(0) -> (r.getBoolean(1), r.getBoolean(2))).toMap
    assert(byLine(lines(fixtures.size)) == ((true, false)))
    assert(byLine(lines(fixtures.size + 1)) == ((false, true)))
    assert(byLine("") == ((false, false)))
    assert(byLine(lines(fixtures.size + 4)) == ((true, true)))
    // the 14 patterns run once per row, as one mask; no rlike is left
    // (over an RDD, which the optimizer cannot fold the way it folds a local relation)
    val plan = ClusterAnalyzer.classify(spark.createDataFrame(raw.rdd, raw.schema))
      .queryExecution.executedPlan.toString
    assert("multi_match\\(".r.findAllIn(plan).size == 1, plan)
    assert(!plan.toLowerCase.contains("rlike"), plan)
  }

  test("expression works under whole-stage codegen AND interpreted eval") {
    import spark.implicits._
    val df = fixtures.toDF("msg")
    def masks(codegen: String): Seq[Long] = {
      spark.conf.set("spark.sql.codegen.factoryMode", codegen)
      try df.select(MultiMatch.issueMask(col("msg"))).collect().map(_.getLong(0)).toSeq
      finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(masks("CODEGEN_ONLY") === masks("NO_CODEGEN"))
  }

  test("SQL registration through SparkSessionExtensions") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .withExtensions(new GraftExtensions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val row = s2.sql(
        """SELECT multi_match('Read timed out', '(?i)timed out', 'nope') AS m,
          |       issue_mask('Read timed out after 5000ms') AS im""".stripMargin)
        .head()
      assert(row.getAs[Long]("m") === 1L)
      assert((row.getAs[Long]("im") & 1L) === 1L) // bit 0 = timeout
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
