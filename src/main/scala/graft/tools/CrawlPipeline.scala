package graft.tools

import graft.functions.TextFunctions
import graft.queries.{CrawlOpsQueries, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The crawl-side composition proof (the fourth composed pipeline,
  * after E72 curation, E174 vectors, E185 retrieval): URL inventory →
  * canonicalize + keep-first dedup (q205) → domain-suffix blocklist
  * (q206) → longest-prefix path policy (q213) → politeness-interleaved
  * fetch schedule (q217), built ENTIRELY from the gated queries'
  * shared entry points (`canonicalize`, `withBlockRule`, `ruleMatch` —
  * one definition each, so every pipeline stage IS the gated one).
  *
  * Scale shapes preserved end to end: canonicalization and the policy
  * chain are scan-stage codegen; the blocklist is a bounded broadcast;
  * the only corpus-scaled shuffles are the canonical-key agg and the
  * host-keyed schedule window. Stage counts read CACHED frames — the
  * raw URL stream is scanned once.
  */
object CrawlPipeline {

  case class Plan(
      rawUrls: Long, canonical: Long, blocked: Long, denied: Long,
      scheduled: Long, hosts: Long, maxRound: Long, firstHost: String)

  /** Runs the pipeline over `$sfDir/documents.parquet`'s woven URL
    * inventory, writes the fetch schedule under `outDir`, returns the
    * stage counts.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String): Plan = {
    // 1: inventory — every raw URL with its doc's quality permille
    // (the frontier priority), one scan
    val prio = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"),
        TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        floor(TextFunctions.qualityScoreFromTokens(col("toks"), col("text"))
          * 1000).cast("long").as("qp"))
    val raw = prio.select(col("doc_id"), col("qp"),
      explode(CrawlOpsQueries.rawUrls).as("url"))

    // 2: canonicalize + keep-first representative (q205's chain + agg;
    // path survives the rollup for the policy stage)
    val canon = CrawlOpsQueries.canonicalize(raw)
      .groupBy("canonical_url", "host", "path")
      .agg(count(lit(1)).as("n_raw"),
        min(struct(col("doc_id"), col("qp"))).as("k"))
      .select(col("canonical_url"), col("host"), col("path"),
        col("n_raw"), col("k.doc_id").as("kept_doc"),
        col("k.qp").as("priority_pm"))
      .cache()
    val rawCount = canon.agg(sum(col("n_raw"))).head().getLong(0)
    val canonical = canon.count()

    // 3: blocklist — the q206 screen, rule attribution kept
    val screened = CrawlOpsQueries.withBlockRule(spark, canon).cache()
    val blocked = screened.where(col("rule").isNotNull).count()

    // 4: path policy — the q213 chain compiled into the scan
    val ruled = screened.where(col("rule").isNull)
      .withColumn("m", CrawlOpsQueries.ruleMatch(col("path")))
      .cache()
    val denied = ruled.where(col("m.decision") === "deny").count()

    // 5: schedule — the q217 politeness interleave over the allowed set
    val wh = Window.partitionBy("host")
      .orderBy(desc("priority_pm"), asc("canonical_url"))
    val sched = ruled.where(col("m.decision") === "allow")
      .withColumn("round", (row_number().over(wh) - 1).cast("long"))
      .select(col("round"), col("host"), col("canonical_url"),
        col("kept_doc"), col("priority_pm"))
      .cache()
    val scheduled = sched.count()
    val stats = sched.agg(countDistinct(col("host")),
      coalesce(max(col("round")), lit(-1L))).head()

    // 6: authority-ranked global fetch order — the q231 PageRank over
    // the SAME woven host graph (shared pagerankFrom/hostEdges, so the
    // prior IS the gated one) decides WHICH host each politeness round
    // serves first: global position = (round ASC, rank DESC, host,
    // url) via the two-phase GlobalIndex — never a single-partition
    // sort of the corpus-scaled schedule. The crawl-scheduler shape at
    // any scale: the rank vector is host-bounded; the order assignment
    // is one range shuffle.
    val ranks = CrawlOpsQueries.pagerankFrom(
      CrawlOpsQueries.hostEdges(Tables(spark, sfDir, "documents")))
    val ordered = graft.ext.GlobalIndex.withGlobalIndex(
      sched.join(
        broadcast(ranks.select(col("host"), col("rank_micro"))),  // hint audit: value-domain-bounded (<= 23-host rank vector)
        Seq("host")),
      Seq(col("round").asc, col("rank_micro").desc, col("host").asc,
        col("canonical_url").asc), 8, "fetch_pos").cache()
    ordered.write.mode("overwrite").parquet(s"$outDir/fetch_schedule")
    val firstHost = ordered.where(col("fetch_pos") === 0)
      .select(col("host")).head().getString(0)

    val plan = Plan(rawCount, canonical, blocked, denied, scheduled,
      stats.getLong(0), stats.getLong(1), firstHost)
    ordered.unpersist(); sched.unpersist(); ruled.unpersist()
    screened.unpersist(); canon.unpersist()
    plan
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft-crawl"
    val spark = graft.GraftSession.getOrCreate("graft-crawl")
    val p = run(spark, sfDir, outDir)
    println(s"raw=${p.rawUrls} canonical=${p.canonical} " +
      s"blocked=${p.blocked} denied=${p.denied} scheduled=${p.scheduled} " +
      s"hosts=${p.hosts} maxRound=${p.maxRound} " +
      s"firstHost=${p.firstHost} -> $outDir")
    spark.stop()
  }
}
