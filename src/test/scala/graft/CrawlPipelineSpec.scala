package graft

import java.nio.file.Files

import graft.tools.CrawlPipeline
import org.apache.spark.sql.functions._

/** The composed crawl pipeline on sf0.001: stage-count parity with the
  * gated queries, independently-recomputed screen semantics (blocklist
  * suffixes, policy prefixes — hand-written predicates, NOT the shared
  * helpers, so a helper bug cannot vouch for itself), and the schedule
  * politeness invariant.
  */
class CrawlPipelineSpec extends SparkSuite with org.scalatest.BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private val outRoot = Files.createTempDirectory("graft-crawl")

  override def afterAll(): Unit =
    try graft.util.FileUtils.deleteRecursively(outRoot) finally super.afterAll()

  test("stage counts match the gated queries and the schedule is polite") {
    val out = outRoot.toString
    val p = CrawlPipeline.run(spark, dir, out)

    // canonical stage ≡ the q205 gate (same count, same key set)
    val q205 = SparkEntry.queries("q205_url_canonical")(spark, dir).cache()
    assert(p.canonical === q205.count())
    assert(p.rawUrls ===
      q205.agg(sum(col("n_raw"))).head().getLong(0))

    // blocklist semantics, recomputed with plain suffix predicates
    val blockedIndependent = q205
      .withColumn("host", regexp_extract(col("canonical_url"), "^([^/]+)", 1))
      .where(col("host") === "site3.com" || col("host").endsWith(".site3.com") ||
        col("host") === "site17.com" || col("host").endsWith(".site17.com") ||
        col("host") === "net" || col("host").endsWith(".net"))
      .count()
    assert(p.blocked === blockedIndependent)

    // policy semantics, recomputed with plain prefix predicates
    // (longest-prefix-wins: /p/12* re-allowed inside the /p/1 deny)
    val kept = q205
      .withColumn("host", regexp_extract(col("canonical_url"), "^([^/]+)", 1))
      .withColumn("path", regexp_extract(col("canonical_url"), "^[^/]+([^?]*)", 1))
      .where(!(col("host") === "site3.com" || col("host").endsWith(".site3.com") ||
        col("host") === "site17.com" || col("host").endsWith(".site17.com") ||
        col("host") === "net" || col("host").endsWith(".net")))
    val deniedIndependent = kept
      .where((col("path").startsWith("/p/1") || col("path").startsWith("/p/3")) &&
        !col("path").startsWith("/p/12"))
      .count()
    assert(p.denied === deniedIndependent)
    assert(p.scheduled === kept.count() - deniedIndependent)
    q205.unpersist()

    // politeness: at most one fetch per (round, host); rounds contiguous
    val sched = spark.read.parquet(s"$out/fetch_schedule")
    val perCell = sched.groupBy("round", "host").count()
      .agg(max(col("count"))).head().getLong(0)
    assert(perCell === 1L, "a round fetches a host more than once")
    val perHost = sched.groupBy("host")
      .agg(count(lit(1)).as("n"), (max(col("round")) + 1).as("r"))
      .where(col("n") =!= col("r")).count()
    assert(perHost === 0L, "rounds are not contiguous per host")
    assert(sched.count() === p.scheduled)

    // authority ordering: the written schedule's rank column is the
    // q231 GATE's rank verbatim (per host), fetch_pos is a
    // 0..n-1 total order that never decreases in round, within a
    // round never increases in rank, and the first fetch goes to the
    // round-0 host with the greatest authority
    val q231 = SparkEntry.queries("q231_host_pagerank")(spark, dir)
      .select(col("host"), col("rank_micro").as("gate_rank"))
    assert(sched.join(q231, Seq("host"))
      .where(col("rank_micro") =!= col("gate_rank")).count() === 0L,
      "schedule rank drifted from the q231 gate")
    val n = sched.count()
    assert(sched.agg(min(col("fetch_pos")), max(col("fetch_pos")),
      countDistinct(col("fetch_pos"))).head() match {
      case r => r.getLong(0) == 0L && r.getLong(1) == n - 1 &&
        r.getLong(2) == n
    }, "fetch_pos is not a dense 0..n-1 total order")
    import org.apache.spark.sql.expressions.Window
    val byPos = Window.orderBy(col("fetch_pos"))
    val violations = sched
      .withColumn("prev_round", lag(col("round"), 1).over(byPos))
      .withColumn("prev_rank", lag(col("rank_micro"), 1).over(byPos))
      .where(col("prev_round").isNotNull && (
        col("round") < col("prev_round") ||
        (col("round") === col("prev_round") &&
          col("rank_micro") > col("prev_rank"))))
      .count()
    assert(violations === 0L,
      "fetch order violates (round ASC, rank DESC)")
    val topRound0 = sched.where(col("round") === 0)
      .orderBy(desc("rank_micro"), asc("host")).select("host")
      .head().getString(0)
    assert(p.firstHost === topRound0,
      "the first fetch is not the highest-authority round-0 host")
  }
}
