package graft.queries

import ModelOpsQueries.inDelta
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-12 web-crawl curation tier — the operators a crawl-derived
  * training corpus runs BEFORE any text-level screen: URL
  * canonicalization + canonical-key dedup (q205), reversed-host
  * suffix-blocklist filtering (q206), and a mojibake/encoding-damage
  * screen (q207). The reference engine
  * (`/root/reference/cassandra_log_analyzer.py`) has no crawl surface;
  * these extend the corpus-curation tier the same way q63/q89/q90 did.
  *
  * The synthetic corpus carries no URLs or encoding damage, so — the
  * q61/q63 convention (`TextAnalysisQueries.piiText` scaladoc) — each
  * query WEAVES deterministic inputs from `doc_id` with the SAME
  * construction in the oracle, and the operator under test is the
  * canonicalization/suffix-match/screen machinery, not the fixture.
  *
  * Cross-engine rules: all string ops are in the Java-regex ∩ RE2
  * intersection; all ratios are exact integer permille.
  */
object CrawlOpsQueries extends graft.QueryFamily {

  // ---------------------------------------------------------------- q205

  /** Landing-page group: docs 4k..4k+3 link the same page through
    * raw-URL variants (case, default port, `www.`, tracking params,
    * fragments), so canonicalization merges 8 raw URLs into 1.
    */
  private val urlGroup = "doc_id div 4"
  private val sqlUrlGroup = "doc_id // 4"

  /** The two woven raw-URL variants per doc (g = doc_id div 4).
    * `private[graft]`: tools/CrawlPipeline's URL inventory stage.
    */
  private[graft] def rawUrls: Column = {
    val g = expr(urlGroup)
    array(
      concat(lit("HTTPS://WWW.Site"), (g % 23).cast("string"),
        lit(".COM:443/p/"), g.cast("string"),
        lit("?utm_source=s"), (col("doc_id") % 3).cast("string"),
        lit("&id="), (g % 101).cast("string"),
        lit("#f"), (col("doc_id") % 7).cast("string")),
      concat(lit("http://site"), (g % 23).cast("string"),
        lit(".com/p/"), g.cast("string"),
        lit("?id="), (g % 101).cast("string"),
        lit("&gclid=g"), col("doc_id").cast("string")))
  }

  private val sqlRawUrls =
    s"""[concat('HTTPS://WWW.Site', CAST(($sqlUrlGroup) % 23 AS VARCHAR),
       |    '.COM:443/p/', CAST($sqlUrlGroup AS VARCHAR),
       |    '?utm_source=s', CAST(doc_id % 3 AS VARCHAR),
       |    '&id=', CAST(($sqlUrlGroup) % 101 AS VARCHAR),
       |    '#f', CAST(doc_id % 7 AS VARCHAR)),
       |  concat('http://site', CAST(($sqlUrlGroup) % 23 AS VARCHAR),
       |    '.com/p/', CAST($sqlUrlGroup AS VARCHAR),
       |    '?id=', CAST(($sqlUrlGroup) % 101 AS VARCHAR),
       |    '&gclid=g', CAST(doc_id AS VARCHAR))]""".stripMargin

  /** Tracking parameters stripped by canonicalization (the public
    * convention: UTM campaign tags plus the Facebook/Google click ids).
    */
  private val trackingParamRe = "^(utm_[a-z]+|fbclid|gclid)="

  /** Scheme-less canonical URL — host (lowercased, default port and
    * leading `www.` stripped) + path (empty → `/`) + surviving query
    * params sorted and rejoined. A pure codegen string-expression
    * chain: at 100 TB this runs scan-stage; the ONLY shuffle in q205
    * is the canonical-key aggregation (exactly q25's exact-dedup
    * shuffle). Returned as (canonical, intermediate columns) via a
    * projection builder so the chain materializes each step once.
    */
  private[graft] def canonicalize(df: DataFrame): DataFrame =
    df.withColumn("scheme", lower(regexp_extract(col("url"), "^([A-Za-z]+)://", 1)))
      .withColumn("rest",
        regexp_replace(regexp_replace(col("url"), "#.*", ""), "^[A-Za-z]+://", ""))
      .withColumn("host_port", lower(regexp_extract(col("rest"), "^([^/?]+)", 1)))
      .withColumn("host", regexp_replace(
        when(col("scheme") === "https", regexp_replace(col("host_port"), ":443$", ""))
          .when(col("scheme") === "http", regexp_replace(col("host_port"), ":80$", ""))
          .otherwise(col("host_port")),
        "^www\\.", ""))
      .withColumn("pq", expr("substring(rest, length(host_port) + 1)"))
      .withColumn("path",
        when(regexp_replace(col("pq"), "\\?.*", "") === "", "/")
          .otherwise(regexp_replace(col("pq"), "\\?.*", "")))
      .withColumn("params", filter(split(regexp_extract(col("pq"), "\\?(.*)", 1), "&"),
        p => p =!= "" && !p.rlike(trackingParamRe)))
      .withColumn("canonical_url", concat(col("host"), col("path"),
        when(size(col("params")) > 0,
          concat(lit("?"), array_join(array_sort(col("params")), "&")))
          .otherwise(lit(""))))
      .drop("scheme", "rest", "host_port", "pq", "params")

  /** The same chain rendered for DuckDB (`u` = source CTE with
    * (doc_id, url)). DuckDB's `regexp_replace` is first-match-only by
    * default — equivalent here because every pattern is anchored or
    * consumes the rest of the string.
    */
  private def sqlCanonicalChain(src: String): String =
    s"""s1 AS (SELECT $src.*,
       |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
       |    regexp_replace(regexp_replace(url, '#.*', ''), '^[A-Za-z]+://', '') AS rest
       |  FROM $src),
       |s2 AS (SELECT *, lower(regexp_extract(rest, '^([^/?]+)', 1)) AS host_port FROM s1),
       |s3 AS (SELECT *,
       |    regexp_replace(CASE
       |        WHEN scheme = 'https' THEN regexp_replace(host_port, ':443$$', '')
       |        WHEN scheme = 'http' THEN regexp_replace(host_port, ':80$$', '')
       |        ELSE host_port END, '^www\\.', '') AS host,
       |    substr(rest, length(host_port) + 1) AS pq
       |  FROM s2),
       |s4 AS (SELECT *,
       |    CASE WHEN regexp_replace(pq, '\\?.*', '') = '' THEN '/'
       |         ELSE regexp_replace(pq, '\\?.*', '') END AS path,
       |    list_filter(string_split(regexp_extract(pq, '\\?(.*)', 1), '&'),
       |      p -> p <> '' AND NOT regexp_matches(p, '$trackingParamRe')) AS params
       |  FROM s3),
       |canon AS (SELECT * EXCLUDE (scheme, rest, host_port, pq, params),
       |    concat(host, path,
       |    CASE WHEN len(params) > 0
       |      THEN concat('?', array_to_string(list_sort(params), '&'))
       |      ELSE '' END) AS canonical_url
       |  FROM s4)""".stripMargin

  // ---------------------------------------------------------------- q206

  /** Woven per-doc hosts: a deep subdomain under a bounded set of
    * registered domains (suffix matching must look PAST the subdomain)
    * plus a CDN host under a blocked TLD.
    */
  private def hosts: Column = array(
    concat(lit("h"), (col("doc_id") % 997).cast("string"),
      lit(".site"), (col("doc_id") % 23).cast("string"), lit(".com")),
    concat(lit("cdn"), (col("doc_id") % 5).cast("string"), lit(".net")))

  private val sqlHosts =
    """[concat('h', CAST(doc_id % 997 AS VARCHAR),
      |    '.site', CAST(doc_id % 23 AS VARCHAR), '.com'),
      |  concat('cdn', CAST(doc_id % 5 AS VARCHAR), '.net')]""".stripMargin

  /** The blocklist: registered domains and a whole TLD, stored as
    * REVERSED label paths so suffix-of-host becomes prefix-of-key —
    * the standard trick that turns domain-suffix matching into a
    * sorted prefix lookup.
    */
  private val blockRules = Seq(
    ("site3.com", "com.site3"),
    ("site17.com", "com.site17"),
    ("*.net", "net"))

  /** Attaches the matched blocklist rule (null = kept) to any frame
    * with a `host` column — ONE definition for the q206 gate and the
    * composed tools/CrawlPipeline, so the pipeline's screen is exactly
    * the gated one. Disjoint rule prefixes ⇒ at most one match per
    * host (no row duplication).
    */
  private[graft] def withBlockRule(s: SparkSession, df: DataFrame): DataFrame = {
    import s.implicits._
    val bl = blockRules.toDF("rule", "rule_rev")
    df.withColumn("rev", array_join(reverse(split(col("host"), "\\.")), "."))
      .join(broadcast(bl), // hint audit: value-domain-bounded (3-entry curated blocklist; production alternative for a corpus-scaled list = sorted reversed-prefix range join)
        col("rev") === col("rule_rev") ||
          expr("substring(rev, 1, length(rule_rev) + 1)") ===
            concat(col("rule_rev"), lit(".")),
        "left")
      .drop("rev", "rule_rev")
  }

  // ---------------------------------------------------------------- q207

  /** Woven encoding damage: docs ≡0 mod 11 get a double-encoded UTF-8
    * signature (the `Ã`+continuation-range pair that "café"/"naïve"
    * become when UTF-8 bytes are re-decoded as Latin-1), docs ≡0 mod 13
    * get a U+FFFD replacement char (a decoder already gave up once).
    */
  private val mojiToken = " cafÃ© naÃ¯ve"
  private val replToken = " bad�sym"

  private def damagedText: Column = concat(col("text"),
    when(col("doc_id") % 11 === 0, lit(mojiToken)).otherwise(lit("")),
    when(col("doc_id") % 13 === 0, lit(replToken)).otherwise(lit("")))

  private val sqlDamagedText =
    s"concat(text, CASE WHEN doc_id % 11 = 0 THEN '$mojiToken' " +
      s"ELSE '' END, CASE WHEN doc_id % 13 = 0 THEN '$replToken' ELSE '' END)"

  /** Mojibake signature: `Ã` followed by a char in the Latin-1
    * continuation range — the exact pair double-encoding produces.
    * Literal chars keep the pattern in the Java-regex ∩ RE2
    * intersection (no `\x{}` vs `\uXXXX` divergence).
    */
  private val mojibakeRe = "Ã[ -¿]"

  // ---------------------------------------------------------------- q213

  /** Robots-style path policy: longest matching prefix wins (the
    * Google robots.txt rule-precedence semantics — public spec);
    * ties break to the lexicographically larger prefix. The list is
    * curated (value-domain bounded), so the rules COMPILE INTO the
    * scan as a codegen decision chain — no join at all; a
    * corpus-scaled ruleset would switch to the q206 broadcast
    * prefix-join with a per-URL argmax.
    */
  private val pathRules = Seq(
    "/p/12" -> "allow",
    "/p/1" -> "deny",
    "/p/3" -> "deny",
    "/p/" -> "allow",
    "/" -> "allow")

  /** Rules sorted by precedence: length DESC, then prefix DESC. */
  private val rulesByPrecedence =
    pathRules.sortBy { case (p, _) => (-p.length, p) }(
      Ordering.Tuple2(Ordering.Int, Ordering.String.reverse))

  private[graft] def ruleMatch(path: Column): Column = coalesce(
    (rulesByPrecedence.map { case (p, d) =>
      when(path.startsWith(p),
        struct(lit(p).as("rule"), lit(d).as("decision")))
    } :+ struct(lit("<default>").as("rule"), lit("allow").as("decision"))): _*)

  private def sqlRuleMatch(path: String): (String, String) = {
    def chain(field: Int) = "CASE " + rulesByPrecedence.map { case (p, d) =>
      s"WHEN substr($path, 1, ${p.length}) = '$p' " +
        s"THEN '${if (field == 0) p else d}'"
    }.mkString(" ") +
      s" ELSE '${if (field == 0) "<default>" else "allow"}' END"
    (chain(0), chain(1))
  }

  // ----------------------------------------------------------- q217/q219

  /** q217's canonical keep-first frame (canonical_url, host, kept_doc,
    * priority_pm) over the docs matching `docFilter` — ONE definition
    * for the q217 batch gate, q219's incremental faces, and
    * tools/CrawlPipeline. The representative's quality permille rides
    * the canonical agg as a min-struct: no join back to the corpus.
    */
  private[graft] def frontierKept(s: SparkSession, dir: String,
      docFilter: Column): DataFrame =
    frontierKeptOf(Tables(s, dir, "documents").where(docFilter))

  /** The kept-frame builder over an ARBITRARY docs frame — `docs` may
    * be a STREAMING frame (every op is a stateless projection until
    * the canonical agg, which q221 runs in Complete mode); one
    * definition for the batch/incremental/streaming build paths.
    */
  private[graft] def frontierKeptOf(docs: DataFrame): DataFrame = {
    val prio = docs
      .select(col("doc_id"), col("text"),
        graft.functions.TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        floor(graft.functions.TextFunctions
          .qualityScoreFromTokens(col("toks"), col("text")) * 1000)
          .cast("long").as("qp"))
    val raw = prio.select(col("doc_id"), col("qp"),
      explode(rawUrls).as("url"))
    canonicalize(raw)
      .groupBy("canonical_url", "host")
      .agg(min(struct(col("doc_id"), col("qp"))).as("k"))
      .select(col("canonical_url"), col("host"),
        col("k.doc_id").as("kept_doc"), col("k.qp").as("priority_pm"))
  }

  /** q219's min-struct frontier merge — min over per-side minima =
    * global min (associativity), correct even under canonical-key
    * overlap. Shared with the q221 streaming gate.
    */
  private[graft] def frontierMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy("canonical_url", "host")
      .agg(min(struct(col("kept_doc"), col("priority_pm"))).as("k"))
      .select(col("canonical_url"), col("host"),
        col("k.kept_doc").as("kept_doc"),
        col("k.priority_pm").as("priority_pm"))

  /** The politeness interleave over a kept frame: per-host rank by
    * (priority DESC, url ASC), round = rank − 1.
    */
  private[graft] def frontierSchedule(kept: DataFrame): DataFrame = {
    val wh = Window.partitionBy("host")
      .orderBy(desc("priority_pm"), asc("canonical_url"))
    kept.withColumn("round", (row_number().over(wh) - 1).cast("long"))
      .select(col("round"), col("host"), col("canonical_url"),
        col("kept_doc"), col("priority_pm"))
  }

  /** q231's damping in percent and iteration count — literals in both
    * engines' plans.
    */
  private val prDampPct = 85
  private val prIters = 3

  /** One damped PageRank step over the bounded host graph:
    * r'(v) = tele(v) + d·Σ_u r(u)·w(u,v) div out(u) div 100 — all
    * exact integer micro-units (truncation is part of the fixed-point
    * contract, identical in both engines). `ranks` carries its own
    * per-host `tele` column — uniform (1e6·(100−d)) div (100·H) for
    * q231's PageRank, seed-concentrated for q233's TrustRank — so the
    * SAME step serves both walks. `edges`, `outW`, and `ranks` are all
    * value-domain-bounded (≤23-host graph), so every join broadcasts
    * the model-sized side; the one corpus-scale operation in q231 is
    * the edge aggregation feeding this.
    */
  private def pagerankStep(
      edges: DataFrame, outW: DataFrame, ranks: DataFrame): DataFrame = {
    val contrib = edges
      .join(broadcast(outW), Seq("src"))  // hint audit: value-domain-bounded (<= 23-host out-weight table)
      .join(broadcast(ranks.select(col("h").as("src"), col("r"))),  // hint audit: value-domain-bounded (<= 23-host rank vector)
        Seq("src"))
      .select(col("dst").as("h"), expr("r * w div out_w").as("c"))
      .groupBy("h").agg(sum(col("c")).as("inflow"))
    ranks.select("h", "tele")
      .join(broadcast(contrib), Seq("h"), "left")  // hint audit: value-domain-bounded (<= 23-host inflow vector)
      .withColumn("r",
        expr(s"tele + $prDampPct * coalesce(inflow, 0L) div 100"))
      .drop("inflow")
  }

  /** The walk's edge-list cache — at most one generation live
    * (CacheSlot). Without it, column pruning and join-key null filters
    * specialize the edge aggregation into three statically distinct
    * subtrees (nodes / contrib / outW), so even with exchange reuse the
    * corpus is scanned three times; caching the ≤H²-row edge list makes
    * "corpus aggregated ONCE" literal — every downstream reference,
    * across all `prIters` iterations, reads the in-memory relation.
    */
  private val lastEdges = new graft.util.CacheSlot

  /** The full iterated walk over a weighted edge list: nodes, initial
    * mass, `prIters` steps, final (host_id, host, rank_micro,
    * delta_micro) — ONE definition for the q231 gate, q234's
    * incremental twin (which feeds it a merged edge list), and — with
    * `seedTele` — q233's TrustRank.
    */
  private[graft] def pagerankFrom(
      edgesRaw: DataFrame, seedTeleR0: Option[(Column, Column)] = None)
      : DataFrame = {
    val edges = lastEdges.swap(edgesRaw.cache())
    val outW = edges.groupBy("src").agg(sum(col("w")).as("out_w"))
    val nodes = edges.select(col("src").as("h"))
      .union(edges.select(col("dst").as("h"))).distinct()
    // bounded relation from here down: <= 23 hosts
    val all = Window.partitionBy()
    val withN = nodes.withColumn("nh", count(lit(1)).over(all))
    val r0 = seedTeleR0 match {
      case None =>
        withN
          .withColumn("tele",
            expr(s"1000000 * ${100 - prDampPct} div (100 * nh)"))
          .withColumn("r", expr("1000000 div nh"))
          .drop("nh")
      case Some((tele, init)) =>
        // TrustRank: teleport mass concentrated on the seed set, and
        // the walk STARTS at that distribution (zero elsewhere)
        withN.drop("nh").withColumn("tele", tele).withColumn("r", init)
    }
    var prev = r0
    var cur = r0
    for (_ <- 1 to prIters) {
      prev = cur
      cur = pagerankStep(edges, outW, cur)
    }
    cur.join(broadcast(prev.select(col("h"), col("r").as("r_prev"))),  // hint audit: value-domain-bounded (<= 23-host rank vector)
        Seq("h"))
      .select(col("h").as("host_id"),
        concat(lit("site"), col("h").cast("string"), lit(".com"))
          .as("host"),
        col("r").as("rank_micro"),
        (col("r") - col("r_prev")).as("delta_micro"))
      .orderBy(desc("rank_micro"), asc("host_id"))
  }

  /** The woven host→host edge aggregation over a documents slice —
    * shared by q231 (full corpus), and q234's old/delta halves (the
    * per-(src,dst) counts merge by SUM: associativity makes
    * incremental ≡ from-scratch exactly).
    */
  private[graft] def hostEdges(docs: DataFrame): DataFrame = docs
    .select(hostOf.as("src"), expr(hostDstExpr).as("dst"))
    .groupBy("src", "dst").agg(count(lit(1)).as("w"))

  /** ONE host-id derivation for the woven graph — Spark and DuckDB
    * renderings of the same formula, shared by the edge weave, the
    * per-doc host key (q244/q247), and every graph-tier oracle CTE,
    * so a change to the weave updates both engines at once (ADVICE
    * r12: the q258 oracle restated the formula inline).
    */
  private val hostSrcExpr = "(doc_id div 4) % 23"
  private val hostDstExpr = "((doc_id div 4) + doc_id % 7 + 1) % 23"
  private[graft] val sqlHostSrc = "(doc_id // 4) % 23"
  private val sqlHostDst = "((doc_id // 4) + doc_id % 7 + 1) % 23"
  private[graft] def hostOf: Column = expr(hostSrcExpr)

  /** The incrementally maintained edge list (q234/q272/q273 — the
    * E124/E148 delta convention on the graph tier): the established
    * corpus's edges and the delta batch's edges aggregate SEPARATELY
    * (delta cost ∝ delta), then per-(src,dst) counts merge by SUM —
    * associativity makes merged ≡ from-scratch exactly, which is why
    * all three delta gates use their batch twins' oracles verbatim.
    */
  private def mergedDeltaEdges(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables(s, dir, "documents")
    val oldEdges = hostEdges(docs.where(!inDelta(col("doc_id"))))
    val deltaEdges = hostEdges(docs.where(inDelta(col("doc_id"))))
    oldEdges.unionByName(deltaEdges)
      .groupBy("src", "dst").agg(sum(col("w")).as("w"))
  }

  /** The shared `ed` + weighted `edges` CTE pair every graph-tier
    * oracle builds on — the SQL twin of [[hostEdges]].
    */
  private def sqlEdgesCtes: String =
    s"""ed AS (SELECT $sqlHostSrc AS src,
       |    $sqlHostDst AS dst FROM documents),
       |edges AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
       |  FROM ed GROUP BY src, dst)""".stripMargin

  /** q233 TrustRank seed hosts (Gyöngyi et al., VLDB 2004): the
    * curated "trusted" set a crawl-quality pipeline anchors on.
    */
  private val trustSeeds = Seq(0L, 5L, 10L, 15L, 20L)

  /** q235's iteration count — a literal in both engines' plans. */
  private val hitsIters = 3

  /** q258's round count — a literal in both engines' plans. The woven
    * host graph reaches every host from the 5-seed set well inside 6
    * rounds (each host links forward up to 7 positions, seeds sit 5
    * apart); GraphSpec pins the BFS semantics on a constructed path
    * graph where the bound actually binds.
    */
  private val bfsIters = 6

  /** Multi-source BFS hop distance from a seed set — min-plus
    * propagation, `bfsIters` rounds: dist_{t+1}(v) = min(dist_t(v),
    * 1 + min over in-edges from reached hosts). Null/unreached
    * surfaces as -1 — the crawl-depth / link-distance-from-trust
    * number a scheduler pairs with q233's TrustRank mass: TrustRank
    * says how MUCH trust flows, this says how FAR a host sits from
    * any trusted anchor. Cost model: the edge AGGREGATION is the one
    * corpus-scale op (distributed, shared CacheSlot); the graph
    * itself is model-sized (≤ hosts·7 distinct pairs), so the rounds
    * fold on the DRIVER over the collected pair list — the q37/
    * ext-KMeans centroid-fetch convention. An iterated-DataFrame
    * formulation was measured at 14 s/run (6 micro-shuffle rounds of
    * job+plan overhead for a ≤23-row relation); the collected fold is
    * the plan a deployment wants: one scan, one bounded fetch, zero
    * per-round jobs. (A billion-host graph flips this back to
    * partitioned min-plus joins — the same step algebra, stated here
    * so the scale path is explicit.)
    */
  private[graft] def hopDistFrom(
      edgesRaw: DataFrame, seeds: Seq[Long]): DataFrame = {
    val spark = edgesRaw.sparkSession
    val pairs = edgesRaw.select("src", "dst").collect()  // hint audit: value-domain-bounded collect (<= hosts x 7 distinct host pairs)
      .map(r => (r.getLong(0), r.getLong(1)))
    val hosts = (pairs.map(_._1) ++ pairs.map(_._2)).distinct.sorted
    val bySrc = pairs.groupBy(_._1)
    val dist = scala.collection.mutable.Map[Long, Long]()
    seeds.filter(hosts.contains).foreach(s => dist(s) = 0L)
    for (_ <- 1 to bfsIters) {
      val reached = dist.toSeq
      reached.foreach { case (u, du) =>
        bySrc.getOrElse(u, Array.empty).foreach { case (_, v) =>
          if (!dist.contains(v) || dist(v) > du + 1) dist(v) = du + 1
        }
      }
    }
    import spark.implicits._
    hosts.map(h => (h, s"site$h.com", dist.getOrElse(h, -1L))).toSeq
      .toDF("host_id", "host", "hops")
      .orderBy("hops", "host_id")
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999 — public) over the
    * same weighted host graph as q231: `hitsIters` rounds of the
    * mutual recursion a(v) = Σ_{u→v} h(u)·w, h(u) = Σ_{u→v} a(v)·w,
    * each side renormalized to total mass 1e6 in exact integer
    * micro-units (`x·1e6 div total` — truncation is the shared
    * fixed-point contract; hosts with no in/out links keep exact 0 via
    * left-join + coalesce). Everything below the edge aggregation is
    * the ≤H-row bounded relation: the normalization windows are the
    * sanctioned bounded single-partition windows, and every join
    * broadcasts a model-sized side. Overflow headroom: araw ≤
    * 1e6·Σw = 1e6·|docs|, so the ·1e6 rescale stays inside BIGINT up
    * to ~9e6 docs per weave round; beyond that a deployment splits the
    * rescale (permille twice), same contract shape.
    */
  private[graft] def hitsFrom(edgesRaw: DataFrame): DataFrame = {
    val edges = lastEdges.swap(edgesRaw.cache())
    val nodes = edges.select(col("src").as("h"))
      .union(edges.select(col("dst").as("h"))).distinct()
    val all = Window.partitionBy()
    // bounded relation from here down: <= 23 hosts
    var hub = nodes.withColumn("nh", count(lit(1)).over(all))
      .select(col("h"), expr("1000000 div nh").as("hub"))
    var auth: DataFrame = null
    def renorm(raw: DataFrame, rawCol: String, outCol: String): DataFrame =
      nodes.join(broadcast(raw), Seq("h"), "left")  // hint audit: value-domain-bounded (<= 23-host score vector)
        .withColumn("v", coalesce(col(rawCol), lit(0L)))
        .withColumn("tot", sum(col("v")).over(all))
        .select(col("h"), expr(s"v * 1000000 div tot").as(outCol))
    for (_ <- 1 to hitsIters) {
      auth = renorm(
        edges
          .join(broadcast(hub.select(col("h").as("src"), col("hub"))),  // hint audit: value-domain-bounded (<= 23-host hub vector)
            Seq("src"))
          .select(col("dst").as("h"), expr("hub * w").as("c"))
          .groupBy("h").agg(sum(col("c")).as("araw")),
        "araw", "auth")
      hub = renorm(
        edges
          .join(broadcast(auth.select(col("h").as("dst"), col("auth"))),  // hint audit: value-domain-bounded (<= 23-host authority vector)
            Seq("dst"))
          .select(col("src").as("h"), expr("auth * w").as("c"))
          .groupBy("h").agg(sum(col("c")).as("hraw")),
        "hraw", "hub")
    }
    auth.join(broadcast(hub), Seq("h"))  // hint audit: value-domain-bounded (<= 23-host hub vector)
      .select(col("h").as("host_id"),
        concat(lit("site"), col("h").cast("string"), lit(".com"))
          .as("host"),
        col("auth").as("authority_micro"), col("hub").as("hub_micro"))
      .orderBy(desc("authority_micro"), asc("host_id"))
  }

  /** q242's iteration count — a literal in both engines' plans. */
  private val lpaIters = 3

  /** Synchronous label propagation (Raghavan et al., Phys. Rev. E 2007
    * — public) + weighted modularity (Newman 2004) over the undirected
    * view of the host graph: `lpaIters` rounds of "adopt the
    * neighbor label with the greatest incident weight" with the
    * deterministic (weight DESC, label ASC) tie-break that makes
    * synchronous LPA reproducible, then per-community size / internal
    * weight / degree weight / modularity contribution in exact integer
    * micro-units — Q_c = e_c·1e6 div 2m − (deg_c·1000 div 2m)², the
    * permille-squared-is-micro device. Same cost model as the rest of
    * the tier: the cached edge list is the one corpus-scale input;
    * every round and the modularity rollup run on the ≤H-host bounded
    * relation (the label-frequency window partitions by host — ≤H
    * labels per host — and the fleet modularity window runs over ≤H
    * community rows).
    */
  /** The undirected weighted view of a directed edge list (parallel
    * edges in either direction merge by SUM).
    */
  private def undirected(edges: DataFrame): DataFrame =
    edges.select(col("src").as("a"), col("dst").as("b"), col("w"))
      .unionByName(
        edges.select(col("dst").as("a"), col("src").as("b"), col("w")))
      .groupBy("a", "b").agg(sum(col("w")).as("w"))

  /** The LPA label frame (h, lab) alone — ONE definition for the q242
    * rollup and q247's per-doc card, so the community a doc carries is
    * exactly the gated partition.
    */
  private[graft] def lpaLabelsFrom(edgesRaw: DataFrame): DataFrame = {
    val edges = lastEdges.swap(edgesRaw.cache())
    val und = undirected(edges)
    val nodes = und.select(col("a").as("h")).distinct()
    // bounded relation from here down: <= 23 hosts
    var lab = nodes.withColumn("lab", col("h"))
    for (_ <- 1 to lpaIters) {
      val freq = und
        .join(broadcast(lab.select(col("h").as("a"), col("lab"))),  // hint audit: value-domain-bounded (<= 23-host label vector)
          Seq("a"))
        .groupBy("b", "lab").agg(sum(col("w")).as("s"))
      val pick = Window.partitionBy("b").orderBy(desc("s"), asc("lab"))
      lab = freq.withColumn("rn", row_number().over(pick))
        .where(col("rn") === 1)
        .select(col("b").as("h"), col("lab"))
    }
    lab
  }

  private[graft] def lpaFrom(edgesRaw: DataFrame): DataFrame = {
    val lab = lpaLabelsFrom(edgesRaw)
    val und = undirected(lastEdges.swap(edgesRaw.cache()))
    val labA = lab.select(col("h").as("a"), col("lab").as("lab_a"))
    val labB = lab.select(col("h").as("b"), col("lab").as("lab_b"))
    val internal = und
      .join(broadcast(labA), Seq("a"))  // hint audit: value-domain-bounded (<= 23-host label vector)
      .join(broadcast(labB), Seq("b"))  // hint audit: value-domain-bounded (<= 23-host label vector)
      .where(col("lab_a") === col("lab_b"))
      .groupBy(col("lab_a").as("community"))
      .agg(sum(col("w")).as("internal_w"))
    val degree = und
      .join(broadcast(labA), Seq("a"))  // hint audit: value-domain-bounded (<= 23-host label vector)
      .groupBy(col("lab_a").as("community"))
      .agg(sum(col("w")).as("degree_w"))
    val sizes = lab.groupBy(col("lab").as("community"))
      .agg(count(lit(1)).as("n_hosts"))
    val all = Window.partitionBy()
    sizes
      .join(broadcast(degree), Seq("community"))  // hint audit: value-domain-bounded (<= 23-community rollup)
      .join(broadcast(internal), Seq("community"), "left")  // hint audit: value-domain-bounded (<= 23-community rollup)
      .withColumn("internal_w", coalesce(col("internal_w"), lit(0L)))
      .withColumn("m2", sum(col("degree_w")).over(all))
      .withColumn("contribution_micro",
        expr("internal_w * 1000000 div m2 " +
          "- (degree_w * 1000 div m2) * (degree_w * 1000 div m2)"))
      .withColumn("modularity_micro",
        sum(col("contribution_micro")).over(all))
      .select(col("community"), col("n_hosts"), col("internal_w"),
        col("degree_w"), col("contribution_micro"),
        col("modularity_micro"))
      .orderBy("community")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Community detection + partition quality over the q231 host graph
    // — the third classic graph-analytics signal after rank (q231/233)
    // and hubs (q235): which domains form link neighborhoods (mirror
    // farms, citation cliques, topical clusters), and whether the
    // partition is real (modularity — the go/no-go before any
    // community-based mixing/pruning decision keys off it). LPA is the
    // scale-canonical choice: no pair enumeration, no parameter k,
    // rounds ∝ diameter; the deterministic tie-break makes the
    // synchronous variant engine-exact.
    "q242_lpa_communities" -> ((s, dir) =>
      lpaFrom(hostEdges(Tables(s, dir, "documents")))),

    // Spam-mass report — the ACTIONABLE output of having both walks
    // (Gyöngyi et al., VLDB 2004 §6: spam mass ≈ (PR − TR)/PR — the
    // fraction of a host's authority NOT attributable to trusted
    // seeds): both rank vectors through the SAME pagerankFrom the
    // q231/q233 gates execute (shared CacheSlot keeps the edge build
    // single), joined at host grain, with the gap in micro and spam
    // mass in exact permille, most-suspect first — the demote/review
    // list a crawl-quality pipeline actually consumes. PR ≥ its
    // uniform teleport share > 0, so the division is total.
    "q248_spam_mass" -> ((s, dir) => {
      val e = hostEdges(Tables(s, dir, "documents"))
      val pr = pagerankFrom(e)
        .select(col("host_id"), col("host"), col("rank_micro").as("pr"))
      val seedSet = trustSeeds.mkString(", ")
      val nSeeds = trustSeeds.size
      val tr = pagerankFrom(e, Some((
          expr(s"CASE WHEN h IN ($seedSet) THEN " +
            s"1000000 * ${100 - prDampPct} div (100 * $nSeeds) " +
            "ELSE 0L END"),
          expr(s"CASE WHEN h IN ($seedSet) THEN 1000000 div $nSeeds " +
            "ELSE 0L END"))))
        .select(col("host_id"), col("rank_micro").as("tr"))
      pr.join(broadcast(tr), Seq("host_id"))  // hint audit: value-domain-bounded (<= 23-host rank vector)
        .select(col("host_id"), col("host"),
          col("pr").as("pr_micro"), col("tr").as("tr_micro"),
          (col("pr") - col("tr")).as("gap_micro"),
          expr("(pr - tr) * 1000 div pr").as("spam_mass_permille"))
        .orderBy(desc("spam_mass_permille"), asc("host_id"))
    }),

    // Cross-tier document card — the composition proof AS a gated
    // query: every document annotated with its host's authority (the
    // SAME pagerankFrom the q231 gate executes), its host's link
    // community (the SAME lpaLabelsFrom behind q242), its clamped
    // quality, and its length octave (the E186 device) — the serving
    // row a mixer/scheduler reads per doc. The graph signals are
    // host-bounded broadcasts onto one corpus scan (the edge
    // aggregation reuses the shared CacheSlot, so the corpus is
    // touched twice total: once for the card scan, once for the
    // cached edge build); the oracle recomputes BOTH iterated chains
    // independently as nested-WITH CTEs and joins them the same way.
    "q247_doc_card" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val ranks = pagerankFrom(hostEdges(d))
        .select(col("host_id").as("h"), col("host"), col("rank_micro"))
      val labels = lpaLabelsFrom(hostEdges(d))
        .select(col("h"), col("lab").as("community"))
      d.select(col("doc_id"), col("source"), col("lang"),
          col("n_chars"), hostOf.as("h"))
        .join(broadcast(ranks), Seq("h"))  // hint audit: value-domain-bounded (<= 23-host rank vector)
        .join(broadcast(labels), Seq("h"))  // hint audit: value-domain-bounded (<= 23-host label vector)
        .select(col("doc_id"), col("source"), col("lang"), col("host"),
          col("rank_micro"), col("community"),
          least(col("n_chars"), lit(500L)).as("quality"),
          length(expr("bin(n_chars)")).cast("long").as("octave"))
        .orderBy("doc_id")
    }),

    // Link-smoothed host quality prior — the "bad neighborhood" signal
    // web-quality pipelines blend into per-host priors (the TrustRank
    // intuition applied to a CONTENT signal): a host surrounded by
    // low-quality linkers is suspect even if its own docs look fine.
    // One corpus scan aggregates own quality per host (clamped n_chars
    // permille-style — the signal's definition is not the point, the
    // propagation is); the in-neighbor weighted mean rides the SAME
    // cached edge list as q231; smoothed = (70·own + 30·nbr) div 100,
    // all exact integers. Hosts with no in-links keep their own score
    // (coalesce to own — the explicit no-evidence case).
    "q244_quality_smoothing" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val edges = lastEdges.swap(hostEdges(docs).cache())
      val own = docs
        .select(hostOf.as("h"),
          least(col("n_chars"), lit(500L)).as("q"))
        .groupBy("h")
        .agg(count(lit(1)).as("n_docs"), sum(col("q")).as("sq"))
        .withColumn("own_q", expr("sq div n_docs")).drop("sq")
      val nbr = edges
        .join(broadcast(own.select(col("h").as("src"),  // hint audit: value-domain-bounded (<= 23-host quality vector)
          col("own_q").as("src_q"))), Seq("src"))
        .groupBy(col("dst").as("h"))
        .agg(expr("sum(w * src_q) div sum(w)").as("nbr_q"))
      own
        .join(broadcast(nbr), Seq("h"), "left")  // hint audit: value-domain-bounded (<= 23-host neighbor means)
        .withColumn("nbr_q", coalesce(col("nbr_q"), col("own_q")))
        .withColumn("smoothed_q",
          expr("(70 * own_q + 30 * nbr_q) div 100"))
        .select(col("h").as("host_id"),
          concat(lit("site"), col("h").cast("string"), lit(".com"))
            .as("host"),
          col("n_docs"), col("own_q"), col("nbr_q"), col("smoothed_q"))
        .orderBy("host_id")
    }),

    // Host-level PageRank — the crawl tier's authority signal (Page et
    // al. 1999; the host-grain webgraph is how web-scale corpora rank
    // domains for crawl priority / quality priors). Each doc WEAVES one
    // host-to-host link (its q205 host cites host (g + doc_id%7 + 1)
    // mod 23 — deterministic, no self-loops, skewed in-degrees), the
    // corpus aggregates ONCE into a <=23x7-row weighted edge list, and
    // three damped iterations run entirely on that bounded graph in
    // exact integer micro-units (total mass 1e6; per-edge truncation is
    // the fixed-point contract both engines share). delta_micro = the
    // last iteration's signed movement per host — the convergence
    // number that decides whether prIters suffices. At 100 TB the
    // design is unchanged: one edge-agg shuffle ∝ corpus, then
    // model-sized iterations; a billion-host graph swaps the broadcast
    // hints for partitioned joins but keeps the same step algebra.
    "q231_host_pagerank" -> ((s, dir) =>
      pagerankFrom(hostEdges(Tables(s, dir, "documents")))),

    // TrustRank (Gyöngyi et al., VLDB 2004 — public): the SAME damped
    // walk as q231 but with the teleport mass concentrated on a curated
    // trusted-seed host set (and the walk starting there), so authority
    // flows OUT of the seeds along links — hosts reachable only from
    // untrusted regions score near zero. The standard web-spam prior:
    // rank_micro here vs q231's rank is the trust gap a crawl scheduler
    // reads. Same machinery, same bounded-graph cost model; seeds are a
    // 5-element literal in both engines' plans.
    "q233_trustrank" -> ((s, dir) => {
      val seedSet = trustSeeds.mkString(", ")
      val nSeeds = trustSeeds.size
      pagerankFrom(hostEdges(Tables(s, dir, "documents")),
        Some((
          expr(s"CASE WHEN h IN ($seedSet) THEN " +
            s"1000000 * ${100 - prDampPct} div (100 * $nSeeds) " +
            "ELSE 0L END"),
          expr(s"CASE WHEN h IN ($seedSet) THEN 1000000 div $nSeeds " +
            "ELSE 0L END"))))
    }),

    // Incremental PageRank maintenance — the E124/E148 delta convention
    // applied to the graph tier: a delta doc batch weaves its edges and
    // aggregates ALONE (cost ∝ delta), the per-(src,dst) counts merge
    // into the persisted edge list by SUM (associativity ⇒ merged ≡
    // from-scratch exactly), and the model-sized iterations re-run on
    // the merged graph — they were never corpus-scale to begin with.
    // Oracle = q231's twin VERBATIM over the full corpus: incremental ≡
    // from-scratch, hash-proven.
    "q234_delta_pagerank" -> ((s, dir) =>
      pagerankFrom(mergedDeltaEdges(s, dir))),

    // The same incremental edge-merge convention applied to the OTHER
    // two iterated graph signals (VERDICT r12 missing item #4): LPA
    // communities and HITS hubs/authorities re-run on the SUM-merged
    // edge list — old edges aggregate once (cost ∝ established
    // corpus, amortized), the delta batch aggregates alone (cost ∝
    // delta), and associativity makes merged ≡ from-scratch exactly,
    // so each oracle is its batch twin VERBATIM (q242's / q235's) —
    // incremental ≡ from-scratch, hash-proven. The iterations were
    // never corpus-scale: they re-run on the merged ≤H-host graph.
    "q272_delta_lpa" -> ((s, dir) =>
      lpaFrom(mergedDeltaEdges(s, dir))),

    "q273_delta_hits" -> ((s, dir) =>
      hitsFrom(mergedDeltaEdges(s, dir))),

    // Multi-source BFS from the trusted seeds — the graph tier's
    // distance face (rank tells how much authority flows; this tells
    // how many hops separate a host from ANY trusted anchor — the
    // crawl-depth budget and the "link neighborhood" radius a
    // scheduler caps). Min-plus rounds on the cached bounded graph;
    // unreached surfaces as -1, never silently dropped.
    "q258_seed_bfs" -> ((s, dir) =>
      hopDistFrom(hostEdges(Tables(s, dir, "documents")), trustSeeds)),

    // HITS hubs & authorities over the q231 host graph — the second
    // classic link-analysis signal (Kleinberg 1999): authority = cited
    // by good hubs, hub = cites good authorities. Where PageRank is the
    // crawl-priority prior, the authority/hub split is the standard
    // "content source vs link directory" discriminator a corpus mixer
    // reads per domain. Same cost model as q231: ONE corpus-scale edge
    // aggregation (shared CacheSlot — scanned once, iterated in
    // memory), then model-sized renormalized iterations.
    "q235_hits" -> ((s, dir) =>
      hitsFrom(hostEdges(Tables(s, dir, "documents")))),

    // URL canonicalization + canonical-key dedup — the FIRST dedup any
    // web corpus runs (cheaper than any text hash: it needs only the
    // URL column). Canonicalization is one codegen scan-stage string
    // chain (case, default port, www., fragment, tracking params,
    // param order); the only shuffle is the canonical-key agg, and the
    // keep-first winner is a plain MIN — no per-key sort, the q25/q172
    // convention. At 100 TB: shuffle volume = one row per RAW url
    // (grouping key ~100 bytes), candidates never materialize as pairs.
    "q205_url_canonical" -> ((s, dir) => {
      val raw = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(rawUrls).as("url"))
      canonicalize(raw)
        .groupBy("canonical_url")
        .agg(count(lit(1)).as("n_raw"),
          countDistinct(col("url")).as("n_variants"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("kept_doc"))
        .orderBy("canonical_url")
    }),

    // Domain-suffix blocklist filter: hosts reverse into label paths
    // (com.site3.h42) so "host under blocked domain" = "reversed host
    // has a blocklist entry as a dotted prefix". The blocklist is
    // value-domain bounded (a curated denylist, O(1) in corpus size) —
    // broadcast nested-loop with the prefix predicate is the designed
    // plan; a corpus-scaled blocklist would switch to the sorted
    // prefix RANGE join (entry ≤ rev < entry+'.~' on the sorted list),
    // the same regime split PlanShapeSpec pins for q116/q150. Rule
    // attribution survives into the rollup (which rule blocked what),
    // the report a crawl operator actually reads.
    "q206_host_blocklist" -> ((s, dir) => {
      val hostRows = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(hosts).as("host"))
      withBlockRule(s, hostRows)
        .groupBy(coalesce(col("rule"), lit("kept")).as("rule"))
        .agg(countDistinct(col("host")).as("n_hosts"),
          count(lit(1)).as("n_urls"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy("rule")
    }),

    // Crawl-policy evaluation: every raw URL canonicalizes (the q205
    // chain) and its PATH meets the longest-prefix-wins rule table —
    // robots.txt precedence semantics — with the winning rule and
    // decision attributed per URL and rolled into the policy report a
    // crawl operator reviews before a fetch wave. The bounded ruleset
    // compiles into the scan as ONE codegen conditional chain (rules
    // ordered by precedence at PLAN time): no join, no shuffle beyond
    // the bounded report agg — "the policy is part of the plan".
    "q213_robots_rules" -> ((s, dir) => {
      val raw = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(rawUrls).as("url"))
      canonicalize(raw)
        .withColumn("m", ruleMatch(col("path")))
        .groupBy(col("m.decision").as("decision"), col("m.rule").as("rule"))
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("path")).as("n_paths"),
          min(col("path")).as("example_path"))
        .orderBy("decision", "rule")
    }),

    // Crawl-frontier scheduling: the canonical URL set (q205's chain,
    // keep-first representative carrying its doc's quality permille —
    // a min-struct through the SAME canonical agg, NO join back to the
    // corpus) ranked per HOST by priority, with rank − 1 as the fetch
    // ROUND: round r fetches at most one URL per host — the politeness
    // interleave every crawler schedules (per-host rate budget), with
    // high-quality pages first within each host. One host-keyed
    // window after the canonical agg; at 100 TB the round is the
    // partition key downstream and no global sort exists in the
    // production path (the output sort is the oracle contract).
    "q217_crawl_frontier" -> ((s, dir) =>
      frontierSchedule(frontierKept(s, dir, lit(true)))
        .orderBy("round", "host", "canonical_url")),

    // INCREMENTAL frontier maintenance — the E124/E148 delta
    // convention applied to the crawl tier (batch q217 / incremental
    // THIS): a delta doc batch contributes new URLs; the persisted
    // frontier's kept-representative frame merges with the delta's via
    // the SAME min-struct re-aggregation (min over per-side minima =
    // global min — associativity, the q163/q186 device, so the merge
    // is correct even if a canonical key appears on both sides), and
    // the schedule recomputes ONLY for hosts the delta touched —
    // untouched hosts keep their old rounds verbatim, which equals the
    // from-scratch rounds because their URL sets did not change. The
    // oracle IS q217's from-scratch twin — incremental ≡ from-scratch,
    // proven. At 100 TB: re-scheduling cost ∝ the touched hosts' URL
    // volume, not the frontier.
    "q219_delta_frontier" -> ((s, dir) => {
      val old = frontierKept(s, dir, !inDelta(col("doc_id")))
      val delta = frontierKept(s, dir, inDelta(col("doc_id")))
      val touched = delta.select("host").distinct()
      val merged = frontierMerge(old, delta)
      val schedTouched = frontierSchedule(
        merged.join(broadcast(touched), Seq("host"), "semi"))  // hint audit: value-domain-bounded (hosts are a bounded registered-domain set)
      val schedUntouched = frontierSchedule(old)
        .join(broadcast(touched), Seq("host"), "left_anti")  // hint audit: value-domain-bounded (hosts are a bounded registered-domain set)
      // unionByName: the using-column joins move `host` to the front
      // of their output — a positional union would misalign columns
      schedTouched.unionByName(schedUntouched)
        .orderBy("round", "host", "canonical_url")
    }),

    // URL path templating — q183's template mining applied to the URL
    // space: digit runs in host+path mask to {n}, collapsing the
    // canonical set into its structural patterns (the "/p/{n}" shapes
    // a crawler uses for trap detection, dedup-by-pattern, and
    // coverage accounting), with per-slot value stats (q187's other
    // half) bounding each numeric slot's observed range. Scan-stage
    // mask + a template-bounded agg.
    "q220_url_templates" -> ((s, dir) => {
      val raw = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(rawUrls).as("url"))
      canonicalize(raw)
        .groupBy("canonical_url", "host")
        .agg(count(lit(1)).as("n_raw"))
        .select(col("canonical_url"), col("host"),
          regexp_replace(col("canonical_url"), "[0-9]+", "{n}")
            .as("template"),
          expr("regexp_extract_all(canonical_url, '[0-9]+', 0)")
            .as("vals"))
        .select(col("template"), col("canonical_url"), col("host"),
          posexplode(col("vals")).as(Seq("slot", "v")))
        .select(col("template"), col("canonical_url"), col("host"),
          col("slot").cast("long").as("slot"), col("v").cast("long").as("v"))
        .groupBy("template", "slot")
        .agg(countDistinct(col("canonical_url")).as("n_urls"),
          countDistinct(col("host")).as("n_hosts"),
          countDistinct(col("v")).as("n_distinct"),
          min(col("v")).as("min_val"), max(col("v")).as("max_val"))
        .orderBy("template", "slot")
    }),

    // Encoding-damage screen: per-source mojibake report — double-
    // encoded UTF-8 signatures (Ã + continuation-range char) and
    // U+FFFD replacement chars counted scan-stage, rolled into the
    // bounded per-source report a curation run reads before deciding
    // to re-extract a source. All ratios exact integer permille.
    "q207_mojibake_screen" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("source"), damagedText.as("txt"))
        .select(col("source"),
          size(expr(s"regexp_extract_all(txt, '$mojibakeRe', 0)"))
            .cast("long").as("moji_hits"),
          (length(col("txt")) - length(regexp_replace(col("txt"), "�", "")))
            .cast("long").as("repl_hits"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("moji_hits") > 0, 1L).otherwise(0L)).as("n_moji_docs"),
          sum(when(col("repl_hits") > 0, 1L).otherwise(0L)).as("n_repl_docs"),
          sum(when(col("moji_hits") > 0 || col("repl_hits") > 0, 1L)
            .otherwise(0L)).as("n_flagged"),
          sum(col("moji_hits")).as("sum_moji_hits"))
        .withColumn("flagged_permille", expr("n_flagged * 1000 div n_docs"))
        .orderBy("source")
    }))

  /** The frontier's SQL twin — shared verbatim by q217 (from-scratch)
    * and q219 (the incremental build must equal it).
    */
  private lazy val sqlFrontier: String = {
    val chain = sqlCanonicalChain("raw")
    val q = graft.functions.TextFunctions.sqlQualityScore("text")
    s"""WITH raw AS (
       |  SELECT doc_id, CAST(floor(($q) * 1000) AS BIGINT) AS qp,
       |    unnest($sqlRawUrls) AS url
       |  FROM documents),
       |$chain,
       |c AS (SELECT canonical_url, host, doc_id, qp,
       |    ROW_NUMBER() OVER (PARTITION BY canonical_url, host
       |      ORDER BY doc_id) AS rn
       |  FROM canon),
       |k AS (SELECT canonical_url, host, doc_id AS kept_doc,
       |        qp AS priority_pm
       |      FROM c WHERE rn = 1),
       |f AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY host
       |        ORDER BY priority_pm DESC, canonical_url) - 1 AS BIGINT)
       |        AS round
       |      FROM k)
       |SELECT round, host, canonical_url, kept_doc, priority_pm
       |FROM f ORDER BY round, host, canonical_url""".stripMargin
  }

  /** The iterated-walk oracle, mirroring [[pagerankFrom]] — ONE
    * parametric string for q231 (uniform teleport), q233 (seeded), and
    * q234 (whose twin IS q231's: incremental ≡ from-scratch).
    */
  private def sqlPagerank(seeded: Boolean): String = {
    val (tele0, r0expr) =
      if (seeded) {
        val ss = trustSeeds.mkString(", ")
        val nS = trustSeeds.size
        (s"CASE WHEN h IN ($ss) THEN 1000000 * ${100 - prDampPct} " +
          s"// (100 * $nS) ELSE 0 END",
          s"CASE WHEN h IN ($ss) THEN 1000000 // $nS ELSE 0 END")
      } else
        (s"1000000 * ${100 - prDampPct} " +
          "// (100 * CAST(COUNT(*) OVER () AS BIGINT))",
          "1000000 // CAST(COUNT(*) OVER () AS BIGINT)")
    val steps = (1 to prIters).map { i =>
      s"""c$i AS (SELECT e.dst AS h,
         |    CAST(SUM(r.r * e.w // o.out_w) AS BIGINT) AS inflow
         |  FROM edges e JOIN outw o ON o.src = e.src
         |  JOIN r${i - 1} r ON r.h = e.src GROUP BY e.dst),
         |r$i AS (SELECT n.h, n.tele,
         |    n.tele + $prDampPct * COALESCE(c.inflow, 0) // 100 AS r
         |  FROM r${i - 1} n LEFT JOIN c$i c ON c.h = n.h)""".stripMargin
    }.mkString(",\n")
    s"""WITH $sqlEdgesCtes,
       |outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS out_w
       |  FROM edges GROUP BY src),
       |nodes AS (SELECT src AS h FROM edges
       |  UNION SELECT dst AS h FROM edges),
       |r0 AS (SELECT h, CAST($tele0 AS BIGINT) AS tele,
       |    CAST($r0expr AS BIGINT) AS r
       |  FROM nodes),
       |$steps
       |SELECT f.h AS host_id,
       |  concat('site', CAST(f.h AS VARCHAR), '.com') AS host,
       |  f.r AS rank_micro, f.r - p.r AS delta_micro
       |FROM r$prIters f JOIN r${prIters - 1} p ON p.h = f.h
       |ORDER BY rank_micro DESC, host_id""".stripMargin
  }

  /** q235's oracle: the HITS recursion unrolled as a CTE chain,
    * mirroring [[hitsFrom]]'s integer contract step for step.
    */
  private def sqlHits: String = {
    val steps = (1 to hitsIters).map { i =>
      s"""a${i}r AS (SELECT e.dst AS h, CAST(SUM(x.hub * e.w) AS BIGINT) AS v
         |  FROM edges e JOIN hub${i - 1} x ON x.h = e.src GROUP BY e.dst),
         |a${i}t AS (SELECT n.h, CAST(COALESCE(r.v, 0) AS BIGINT) AS v,
         |    CAST(SUM(COALESCE(r.v, 0)) OVER () AS BIGINT) AS tot
         |  FROM nodes n LEFT JOIN a${i}r r ON r.h = n.h),
         |auth$i AS (SELECT h, v * 1000000 // tot AS auth FROM a${i}t),
         |h${i}r AS (SELECT e.src AS h, CAST(SUM(x.auth * e.w) AS BIGINT) AS v
         |  FROM edges e JOIN auth$i x ON x.h = e.dst GROUP BY e.src),
         |h${i}t AS (SELECT n.h, CAST(COALESCE(r.v, 0) AS BIGINT) AS v,
         |    CAST(SUM(COALESCE(r.v, 0)) OVER () AS BIGINT) AS tot
         |  FROM nodes n LEFT JOIN h${i}r r ON r.h = n.h),
         |hub$i AS (SELECT h, v * 1000000 // tot AS hub FROM h${i}t)""".stripMargin
    }.mkString(",\n")
    s"""WITH $sqlEdgesCtes,
       |nodes AS (SELECT src AS h FROM edges
       |  UNION SELECT dst AS h FROM edges),
       |hub0 AS (SELECT h,
       |    1000000 // CAST(COUNT(*) OVER () AS BIGINT) AS hub
       |  FROM nodes),
       |$steps
       |SELECT a.h AS host_id,
       |  concat('site', CAST(a.h AS VARCHAR), '.com') AS host,
       |  a.auth AS authority_micro, b.hub AS hub_micro
       |FROM auth$hitsIters a JOIN hub$hitsIters b ON b.h = a.h
       |ORDER BY authority_micro DESC, host_id""".stripMargin
  }

  /** The LPA CTE chain (through `l$lpaIters`), mirroring
    * [[lpaLabelsFrom]] step for step — q242's and q247's oracles both
    * build on it, exactly as the Spark side shares the label frame.
    */
  private def sqlLpaChain: String = {
    val steps = (1 to lpaIters).map { i =>
      s"""f$i AS (SELECT und.b, l.lab, CAST(SUM(und.w) AS BIGINT) AS s
         |  FROM und JOIN l${i - 1} l ON l.h = und.a GROUP BY und.b, l.lab),
         |l$i AS (SELECT b AS h, lab FROM (SELECT b, lab,
         |    row_number() OVER (PARTITION BY b ORDER BY s DESC, lab ASC)
         |      AS rn FROM f$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""$sqlEdgesCtes,
       |und AS (SELECT a, b, CAST(SUM(w) AS BIGINT) AS w FROM (
       |    SELECT src AS a, dst AS b, w FROM edges
       |    UNION ALL SELECT dst AS a, src AS b, w FROM edges)
       |  GROUP BY a, b),
       |nodes AS (SELECT DISTINCT a AS h FROM und),
       |l0 AS (SELECT h, h AS lab FROM nodes),
       |$steps""".stripMargin
  }

  /** q242's oracle: the synchronous LPA rounds + modularity rollup
    * unrolled as a CTE chain, mirroring [[lpaFrom]] step for step.
    */
  private def sqlLpa: String =
    s"""WITH $sqlLpaChain,
       |internal AS (SELECT la.lab AS community,
       |    CAST(SUM(und.w) AS BIGINT) AS internal_w
       |  FROM und JOIN l$lpaIters la ON la.h = und.a
       |  JOIN l$lpaIters lb ON lb.h = und.b
       |  WHERE la.lab = lb.lab GROUP BY 1),
       |degree AS (SELECT la.lab AS community,
       |    CAST(SUM(und.w) AS BIGINT) AS degree_w
       |  FROM und JOIN l$lpaIters la ON la.h = und.a GROUP BY 1),
       |sizes AS (SELECT lab AS community, CAST(COUNT(*) AS BIGINT)
       |    AS n_hosts
       |  FROM l$lpaIters GROUP BY 1),
       |c AS (SELECT s.community, s.n_hosts,
       |    CAST(COALESCE(i2.internal_w, 0) AS BIGINT) AS internal_w,
       |    d.degree_w, CAST(SUM(d.degree_w) OVER () AS BIGINT) AS m2
       |  FROM sizes s JOIN degree d ON d.community = s.community
       |  LEFT JOIN internal i2 ON i2.community = s.community),
       |qq AS (SELECT community, n_hosts, internal_w, degree_w,
       |    internal_w * 1000000 // m2
       |      - (degree_w * 1000 // m2) * (degree_w * 1000 // m2)
       |      AS contribution_micro
       |  FROM c)
       |SELECT community, n_hosts, internal_w, degree_w,
       |  contribution_micro,
       |  CAST(SUM(contribution_micro) OVER () AS BIGINT)
       |    AS modularity_micro
       |FROM qq ORDER BY community""".stripMargin

  def oracle: Map[String, String] = Map(
    "q244_quality_smoothing" ->
      s"""WITH own AS (SELECT $sqlHostSrc AS h,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(LEAST(n_chars, 500)) AS BIGINT)
        |      // CAST(COUNT(*) AS BIGINT) AS own_q
        |  FROM documents GROUP BY 1),
        |$sqlEdgesCtes,
        |nbr AS (SELECT e.dst AS h,
        |    CAST(SUM(e.w * o.own_q) AS BIGINT)
        |      // CAST(SUM(e.w) AS BIGINT) AS nbr_q
        |  FROM edges e JOIN own o ON o.h = e.src GROUP BY e.dst)
        |SELECT own.h AS host_id,
        |  concat('site', CAST(own.h AS VARCHAR), '.com') AS host,
        |  own.n_docs, own.own_q,
        |  COALESCE(nbr.nbr_q, own.own_q) AS nbr_q,
        |  (70 * own.own_q + 30 * COALESCE(nbr.nbr_q, own.own_q)) // 100
        |    AS smoothed_q
        |FROM own LEFT JOIN nbr ON nbr.h = own.h
        |ORDER BY host_id""".stripMargin,
    "q242_lpa_communities" -> sqlLpa,
    // both walks recomputed independently as nested-WITH CTEs
    "q248_spam_mass" ->
      s"""WITH pr AS (${sqlPagerank(seeded = false)}),
         |tr AS (${sqlPagerank(seeded = true)})
         |SELECT pr.host_id, pr.host,
         |  pr.rank_micro AS pr_micro, tr.rank_micro AS tr_micro,
         |  pr.rank_micro - tr.rank_micro AS gap_micro,
         |  (pr.rank_micro - tr.rank_micro) * 1000 // pr.rank_micro
         |    AS spam_mass_permille
         |FROM pr JOIN tr ON tr.host_id = pr.host_id
         |ORDER BY spam_mass_permille DESC, pr.host_id""".stripMargin,
    // both iterated chains recomputed independently as nested-WITH
    // CTEs, joined onto the per-doc scan exactly as the Spark side
    "q247_doc_card" ->
      s"""WITH pr AS (${sqlPagerank(seeded = false)}),
         |lab AS (WITH $sqlLpaChain SELECT h, lab FROM l$lpaIters),
         |dd AS (SELECT doc_id, source, lang, n_chars,
         |    $sqlHostSrc AS h FROM documents)
         |SELECT dd.doc_id, dd.source, dd.lang, pr.host, pr.rank_micro,
         |  lab.lab AS community,
         |  CAST(LEAST(dd.n_chars, 500) AS BIGINT) AS quality,
         |  CAST(length(bin(dd.n_chars)) AS BIGINT) AS octave
         |FROM dd JOIN pr ON pr.host_id = dd.h JOIN lab ON lab.h = dd.h
         |ORDER BY dd.doc_id""".stripMargin,
    "q258_seed_bfs" -> {
      val seedSet = trustSeeds.mkString(", ")
      val base =
        s"""eg AS (SELECT DISTINCT $sqlHostSrc AS src,
           |    $sqlHostDst AS dst
           |  FROM documents),
           |n AS (SELECT src AS h FROM eg UNION SELECT dst FROM eg),
           |d0 AS (SELECT h, CASE WHEN h IN ($seedSet)
           |    THEN CAST(0 AS BIGINT) END AS dist FROM n)""".stripMargin
      val rounds = (1 to bfsIters).map { i =>
        s"""d$i AS (SELECT h, MIN(nd) AS dist FROM (
           |    SELECT h, dist AS nd FROM d${i - 1}
           |    UNION ALL
           |    SELECT eg.dst AS h, d.dist + 1 AS nd
           |    FROM eg JOIN d${i - 1} d ON d.h = eg.src
           |    WHERE d.dist IS NOT NULL) GROUP BY h)""".stripMargin
      }
      ("WITH " + (Seq(base) ++ rounds).mkString(",\n")) +
        s"""
           |SELECT h AS host_id,
           |  concat('site', CAST(h AS VARCHAR), '.com') AS host,
           |  COALESCE(dist, -1) AS hops
           |FROM d$bfsIters ORDER BY hops, host_id""".stripMargin
    },
    "q235_hits" -> sqlHits,
    "q231_host_pagerank" -> sqlPagerank(seeded = false),
    "q233_trustrank" -> sqlPagerank(seeded = true),
    "q234_delta_pagerank" -> sqlPagerank(seeded = false),
    // incremental ≡ from-scratch: the batch twins verbatim
    "q272_delta_lpa" -> sqlLpa,
    "q273_delta_hits" -> sqlHits,
    "q205_url_canonical" -> {
      val chain = sqlCanonicalChain("raw")
      s"""WITH raw AS (
         |  SELECT doc_id, unnest($sqlRawUrls) AS url FROM documents),
         |$chain
         |SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_raw,
         |  CAST(COUNT(DISTINCT url) AS BIGINT) AS n_variants,
         |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  MIN(doc_id) AS kept_doc
         |FROM canon GROUP BY canonical_url ORDER BY canonical_url""".stripMargin
    },
    "q206_host_blocklist" -> {
      val rules = blockRules
        .map { case (r, rv) => s"('$r', '$rv')" }.mkString(", ")
      s"""WITH h AS (
         |  SELECT doc_id, unnest($sqlHosts) AS host FROM documents),
         |r AS (SELECT doc_id, host,
         |    array_to_string(list_reverse(string_split(host, '.')), '.') AS rev
         |  FROM h),
         |bl(rule, rule_rev) AS (VALUES $rules),
         |j AS (SELECT r.doc_id, r.host, bl.rule
         |  FROM r LEFT JOIN bl ON r.rev = bl.rule_rev
         |    OR substr(r.rev, 1, length(bl.rule_rev) + 1) = bl.rule_rev || '.')
         |SELECT COALESCE(rule, 'kept') AS rule,
         |  CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
         |  CAST(COUNT(*) AS BIGINT) AS n_urls,
         |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM j GROUP BY 1 ORDER BY rule""".stripMargin
    },
    "q217_crawl_frontier" -> sqlFrontier,
    // the from-scratch twin VERBATIM (the q98↔q163 convention): the
    // delta-merged schedule must equal full-frontier scheduling
    "q219_delta_frontier" -> sqlFrontier,
    "q220_url_templates" -> {
      val chain = sqlCanonicalChain("raw")
      s"""WITH raw AS (
         |  SELECT doc_id, unnest($sqlRawUrls) AS url FROM documents),
         |$chain,
         |cu AS (SELECT canonical_url, host FROM canon
         |       GROUP BY 1, 2),
         |t AS (SELECT canonical_url, host,
         |        regexp_replace(canonical_url, '[0-9]+', '{n}', 'g')
         |          AS template,
         |        regexp_extract_all(canonical_url, '[0-9]+') AS vals
         |      FROM cu),
         |tv AS (SELECT template, canonical_url, host,
         |         unnest(list_transform(range(1, len(vals) + 1), i ->
         |           struct_pack(slot := CAST(i - 1 AS BIGINT),
         |             v := CAST(vals[CAST(i AS INT)] AS BIGINT)))) AS u
         |       FROM t)
         |SELECT template, (u).slot AS slot,
         |  CAST(COUNT(DISTINCT canonical_url) AS BIGINT) AS n_urls,
         |  CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
         |  CAST(COUNT(DISTINCT (u).v) AS BIGINT) AS n_distinct,
         |  MIN((u).v) AS min_val, MAX((u).v) AS max_val
         |FROM tv GROUP BY 1, 2 ORDER BY template, slot""".stripMargin
    },
    "q213_robots_rules" -> {
      val chain = sqlCanonicalChain("raw")
      val (ruleSql, decSql) = sqlRuleMatch("s4.path")
      s"""WITH raw AS (
         |  SELECT doc_id, unnest($sqlRawUrls) AS url FROM documents),
         |$chain,
         |m AS (SELECT s4.path, $decSql AS decision, $ruleSql AS rule
         |      FROM s4)
         |SELECT decision, rule, CAST(COUNT(*) AS BIGINT) AS n_urls,
         |  CAST(COUNT(DISTINCT path) AS BIGINT) AS n_paths,
         |  MIN(path) AS example_path
         |FROM m GROUP BY 1, 2 ORDER BY decision, rule""".stripMargin
    },
    "q207_mojibake_screen" ->
      s"""WITH d AS (SELECT source, $sqlDamagedText AS txt FROM documents),
         |m AS (SELECT source,
         |    CAST(len(regexp_extract_all(txt, '$mojibakeRe')) AS BIGINT) AS moji_hits,
         |    CAST(length(txt) - length(replace(txt, '�', '')) AS BIGINT) AS repl_hits
         |  FROM d)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN moji_hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_moji_docs,
         |  CAST(SUM(CASE WHEN repl_hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_repl_docs,
         |  CAST(SUM(CASE WHEN moji_hits > 0 OR repl_hits > 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_flagged,
         |  CAST(SUM(moji_hits) AS BIGINT) AS sum_moji_hits,
         |  CAST(SUM(CASE WHEN moji_hits > 0 OR repl_hits > 0 THEN 1 ELSE 0 END)
         |    * 1000 AS BIGINT) // COUNT(*) AS flagged_permille
         |FROM m GROUP BY source ORDER BY source""".stripMargin)
}
