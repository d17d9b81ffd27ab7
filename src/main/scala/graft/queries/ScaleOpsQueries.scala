package graft.queries

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 scale-ops tier: the operators a curation/serving pipeline
  * needs once the corpus outgrows single-stage formulations —
  * deterministic per-group caps through the custom bounded-heap
  * operator, graph centrality over an extracted entity graph, and
  * (further down) semantic dedup, global sequence ids, streaks, and
  * interval concurrency. Every query is oracle-gated; all arithmetic
  * that crosses the engine boundary is integer or fixed-tree double
  * (no order-sensitive float reductions).
  */
object ScaleOpsQueries extends graft.QueryFamily {

  /** q89 per-source cap. */
  private val sourceCap = 10

  /** q90 PageRank: ranks in integer millionths, 3 unrolled iterations,
    * damping 0.85 as the exact integer step `150000 + (85*sum) div 100`.
    */
  private val prIters = 3
  private val prInit = 1000000L

  /** q91 SemDeDup cosine threshold: within an IVF cell, a vector whose
    * cosine to some LOWER-id cell member exceeds this is a semantic
    * duplicate (the earlier member is its representative).
    */
  private val semTau = 0.4

  /** q95 Misra-Gries counter budget. The woven key stream has 3 hot
    * keys (~20% each) and 97 cold keys (~0.4%): with k=16 the
    * guarantee threshold n/(k+1) ≈ 5.9% separates them, so the gated
    * guarantees are non-trivial (the fixture's natural columns are
    * near-uniform — nothing would qualify).
    */
  private val hhK = 16

  /** q103: sources sharing at least this many distinct domains are
    * affiliated (an edge of the projected graph). The fixture's domain
    * set saturates (~2 dozen domains at every SF), so the threshold
    * separates the dense core (24 shared) from the bulk (23).
    */
  private val triMinShared = 24

  /** Aggregated URL-domain co-occurrence edge list (q90 PageRank):
    * ONE corpus scan builds per-doc
    * distinct domain sets (one shuffle on doc_id), pair fan-out is
    * bounded by domains-per-doc², and the aggregated graph (≤ |domains|²
    * rows) is CACHED so graph algorithms iterate without rescanning the
    * corpus — the standard extract-once/iterate-on-the-graph decoupling.
    */
  // one-generation cache handles (see CacheSlot)
  private val lastEdges = new graft.util.CacheSlot
  private val lastUnd = new graft.util.CacheSlot
  private val lastDir = new graft.util.CacheSlot

  private def domainEdges(s: SparkSession, dir: String): DataFrame = {
    val doms = Tables(s, dir, "documents")
      .select(col("doc_id"),
        explode(regexp_extract_all(TextAnalysisQueries.urlText,
          lit(TextAnalysisQueries.urlRe), lit(0))).as("url"))
      .select(col("doc_id"),
        regexp_extract(col("url"), "https?://([^/]+)", 1).as("domain"))
    val byDoc = doms.groupBy("doc_id")
      .agg(sort_array(collect_set(col("domain"))).as("ds"))
    lastEdges.swap(byDoc
      .select(explode(col("ds")).as("src"), col("ds"))
      .select(col("src"), explode(col("ds")).as("dst"))
      .where(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      .cache()) // the aggregated graph — iterations must not rescan the corpus
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Heavy hitters via the custom Misra-Gries TypedImperativeAggregate
    // — the fixed-memory "which items dominate the stream" sketch
    // (top sources/domains/tokens at 100 TB, where an exact groupBy's
    // key set is the problem). A bounded counter summary's ESTIMATES
    // are merge-order-dependent, so q95 gates what IS deterministic:
    // the sketch guarantees (est ≤ true, undercount ≤ n/(k+1), every
    // item above the threshold present — Agarwal et al., PODS 2012,
    // for any merge tree), asserted against the exact counting twin,
    // with the oracle emitting the guaranteed literals. Same gate
    // family as q81/q88.
    "q95_heavy_hitters" -> ((s, dir) => {
      val item = concat(lit("k"),
        when(col("event_id") % 100 < 60, col("event_id") % 3)
          .otherwise(col("event_id") % 97 + 100).cast("string"))
      val items = Tables(s, dir, "events").select(item.as("item"))
      val sketch = items.agg(
        graft.functions.MisraGries(col("item"), hhK).as("sketch"))
      val exact = items.groupBy("item").agg(count(lit(1)).as("n_true"))
      val total = exact.agg(sum(col("n_true")).as("n"))
      def est = coalesce(element_at(col("sketch"), col("item")), lit(0L))
      exact.join(broadcast(sketch)).join(broadcast(total))  // hint audit: scalar x2 (one-row sketch + one-row total)
        .where(col("n_true") * (hhK + 1) > col("n"))
        .select(col("item"), col("n_true"),
          element_at(col("sketch"), col("item")).isNotNull.as("in_sketch"),
          (est <= col("n_true") &&
            (col("n_true") - est) * (hhK + 1) <= col("n")).as("within_bound"))
        .orderBy("item")
    }),

    // Semantic dedup, the SemDeDup construction (Abbas et al. 2023,
    // arXiv:2303.09540 — public): cluster the embedding space, then
    // screen for near-duplicates ONLY within a cluster, so pair work is
    // bounded by cell size instead of corpus². Reuses q37's shuffle-free
    // argmax-cosine cell assignment (centroid codebook folded in as
    // literals); the within-cell screen is a hash LEFT SEMI join keyed
    // on the cell — at 100 TB the cell is the partition key and no
    // cross-cell pair ever materializes. Output = the dropped vectors
    // (those with an earlier near-identical cell member), which the
    // oracle reproduces via a correlated EXISTS over the same cells CTE.
    "q91_semantic_dedup" -> ((s, dir) => {
      val corpus = SimilarityQueries.emb(s, dir)
      val best = graft.functions.VectorFunctions.bestCell(
        col("embedding"), col("n2"), SimilarityQueries.ivfCents(s, dir))
      val cells = corpus.select(col("vec_id"), col("embedding"), col("n2"),
        (-best.getField("nid")).as("cell"))
      val earlier = cells.select(col("vec_id").as("b_id"),
        col("embedding").as("be"), col("n2").as("bn2"), col("cell").as("b_cell"))
      import graft.functions.VectorFunctions.{cosineFrom, dot}
      cells.join(earlier,
        col("cell") === col("b_cell") && col("b_id") < col("vec_id") &&
          cosineFrom(dot(col("embedding"), col("be")), col("n2"), col("bn2"))
            > semTau,
        "left_semi")
        .select(col("vec_id"), col("cell"))
        .orderBy("vec_id")
    }),

    // Per-source document cap — the "at most N docs per domain/source"
    // curation rule (over-represented sources crowd out the mixture).
    // Deterministic: docs are kept in content-hash order (layout- and
    // cluster-size-independent, exact dups draw the same hash), and the
    // cut runs through the custom TopKPerGroup whole-operator — bounded
    // heap per group, map-side k-row combine — so at most cap·|sources|
    // rows per partition cross the shuffle, vs the row_number window
    // sorting EVERY doc per source. The oracle is that window.
    "q89_source_cap" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"),
          spreadHash(col("text")).as("h"))
      graft.plans.TopK.perGroup(docs, Seq("source"),
        Seq("h" -> false, "doc_id" -> false), sourceCap)
        .orderBy("source", "doc_id")
    }),

    // Global sequence-id assignment — the shard/packing prerequisite
    // ("number every doc in corpus order"). The naive row_number()
    // window with no PARTITION BY moves the whole corpus to ONE
    // partition; ext/GlobalIndex is the two-phase replacement (range
    // repartition + per-partition counts + offset attach, Spark's own
    // zipWithIndex technique) that keeps all 32 partitions working.
    // The oracle IS that naive window — proving the distributed
    // formulation bit-equal to the single-node semantics.
    "q92_global_index" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      graft.ext.GlobalIndex.withGlobalIndex(docs,
        Seq(col("n_chars").desc, col("doc_id").asc), 32)
        .orderBy("global_idx")
    }),

    // Gaps-and-islands: per-user runs of CONSECUTIVE active days (the
    // classic streak problem — user retention / activity-streak
    // features). The island key is the constant `day_number −
    // row_number()` within a user: consecutive days share it, a gap
    // breaks it. One shuffle on user_id feeds the window; both
    // follow-up aggregates stay on the same key family. Dense
    // formulation — no self-join, no explode over the date range.
    "q93_activity_streaks" -> ((s, dir) => {
      val days = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val rn = row_number().over(
        Window.partitionBy("user_id").orderBy("day"))
      val withGrp = days.select(col("user_id"), col("day"),
        (expr("datediff(day, DATE'1970-01-01')").cast("long") - rn).as("grp"))
      val islands = withGrp.groupBy("user_id", "grp")
        .agg(count(lit(1)).as("len"))
      islands.groupBy("user_id")
        .agg(sum(col("len")).as("n_active_days"),
          count(lit(1)).as("n_streaks"),
          max(col("len")).as("longest_streak"))
        .orderBy("user_id")
    }),

    // Interval-overlap concurrency by sweep line: each event holds a
    // deterministic integer-second duration; max concurrent intervals
    // per event_type = max running sum over (+1 at start, −1 at end)
    // in global time order, ends before starts at the same instant.
    // The sweep is ONE window (one shuffle+sort per event_type) over
    // 2·n rows — never the O(n²) self-join that "count overlaps" naively
    // invites. All time arithmetic is exact BIGINT nanoseconds.
    "q94_interval_concurrency" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), col("ts_ns"),
          (col("event_id") % 3600 + 60).as("dur_s"))
      val starts = ev.select(col("event_type"), col("ts_ns").as("t"),
        lit(1L).as("delta"), col("event_id"))
      val ends = ev.select(col("event_type"),
        (col("ts_ns") + col("dur_s") * lit(1000000000L)).as("t"),
        lit(-1L).as("delta"), col("event_id"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("t"), col("delta"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      starts.union(ends)
        .withColumn("c", sum(col("delta")).over(w))
        .groupBy("event_type")
        .agg(max(col("c")).as("max_concurrent"),
          expr("count(1) div 2").as("n_intervals"))
        .orderBy("event_type")
    }),

    // Domain-graph centrality (PageRank) over the q63 URL extraction —
    // the "quality weight by link/co-citation importance" signal.
    // Shape: ONE corpus scan builds per-doc distinct domain sets (one
    // shuffle on doc_id), pair fan-out is bounded by domains-per-doc²,
    // and the aggregated edge list (nodes² at worst, here ≤ 28·28 rows)
    // is CACHED — the 3 Lloyd-style iterations run on the tiny cached
    // graph, never rescanning the corpus. All arithmetic is BIGINT
    // micro-units with floor division (150000 + (85·Σ(rank·w div wout))
    // div 100): exact, order-independent, bit-equal in DuckDB's
    // unrolled-CTE twin. At 100 TB the corpus scan dominates and the
    // iteration cost ∝ edges — the standard decoupling (extract once,
    // iterate on the graph).
    "q90_domain_pagerank" -> ((s, dir) => {
      val edges = domainEdges(s, dir)
      val outw = edges.groupBy("src").agg(sum(col("w")).as("wout"))
      val nodes = edges.select(col("src").as("domain")).distinct()
      var ranks = nodes.select(col("domain"), lit(prInit).as("pr"))
      for (_ <- 1 to prIters) {
        val contribs = edges
          .join(outw, "src")
          .join(ranks.withColumnRenamed("domain", "src_d"),
            col("src") === col("src_d"))
          .select(col("dst"), expr("(pr * w) div wout").as("c"))
          .groupBy("dst").agg(sum(col("c")).as("csum"))
        ranks = nodes
          .join(contribs, nodes("domain") === contribs("dst"), "left")
          .select(col("domain"),
            expr("150000 + (85 * coalesce(csum, 0)) div 100").as("pr"))
      }
      ranks.orderBy(desc("pr"), asc("domain"))
    }),

    // Triangle participation over the source-affiliation graph — the
    // syndication/mirror-cluster signal (sources whose link profiles
    // pairwise overlap heavily form triangles; a source in many
    // triangles sits inside a dense affiliation cluster). The raw
    // domain co-occurrence graph is BIPARTITE here (site ↔ cdn, no
    // triangles by construction), so the graph is the bipartite
    // PROJECTION: an edge joins two sources sharing ≥ triMinShared
    // distinct domains. This IS the compact-forward plan (Latapy 2008,
    // public): edges orient from the LOWER (degree, id) endpoint to
    // the higher, so every triangle {x≺y≺z} appears EXACTLY once as
    // the wedge of x's two out-edges closed by the y→z edge, and
    // wedge fan-out per vertex is bounded by its OUT-degree —
    // Σ out-deg² = O(m^1.5) on any graph, where an id-ordering lets
    // one hub contribute deg² wedges. Every join is UNHINTED (hint
    // audit: the projection and its edge list are entity-scaled —
    // sources × domains, a corpus-fraction relation at web scale):
    // stats/AQE broadcast the cached frames at gate scale, shuffle on
    // the join keys at production. Triangle counts are orientation-
    // invariant, so the oracle's id-ordered enumeration gates this
    // degree-ordered plan unchanged.
    "q103_triangle_count" -> ((s, dir) => {
      val sd = Tables(s, dir, "documents")
        .select(col("source"),
          explode(regexp_extract_all(TextAnalysisQueries.urlText,
            lit(TextAnalysisQueries.urlRe), lit(0))).as("url"))
        .select(col("source"),
          regexp_extract(col("url"), "https?://([^/]+)", 1).as("domain"))
        .distinct()
      val und = lastUnd.swap(sd
        .join(sd.select(col("source").as("b_src"),
          col("domain").as("b_dom")),
          col("domain") === col("b_dom") && col("source") < col("b_src"))
        .groupBy(col("source").as("a"), col("b_src").as("b"))
        .agg(count(lit(1)).as("nshared"))
        .where(col("nshared") >= triMinShared)
        .select("a", "b")
        .cache()) // the projected graph — keying/wedge joins must not re-derive it
      // total order ≺ = (projected degree, id) as one sortable
      // zero-padded string key; '|' cannot appear in a source label
      val deg = und.select(col("a").as("v"))
        .union(und.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d"))
      val keyed = deg.select(col("v"),
        format_string("%010d|%s", col("d"), col("v")).as("k"))
      // cached like `und`: the wedge and close joins consume the
      // directed list three times — without this each use re-runs the
      // two keying joins
      val dirEdges = lastDir.swap(und
        .join(keyed.select(col("v").as("a"), col("k").as("ka")), "a")
        .join(keyed.select(col("v").as("b"), col("k").as("kb")), "b")
        .select(least(col("ka"), col("kb")).as("u"),
          greatest(col("ka"), col("kb")).as("w"))
        .cache())
      dirEdges.as("e1")
        .join(dirEdges.select(col("u").as("u2"), col("w").as("w2")),
          col("u") === col("u2") && col("w") < col("w2"))
        .select(col("u").as("x"), col("w").as("y"), col("w2").as("z"))
        .join(dirEdges.select(col("u").as("y2"), col("w").as("z2")),
          col("y") === col("y2") && col("z") === col("z2"), "left_semi")
        .select(explode(array(col("x"), col("y"), col("z"))).as("k"))
        .groupBy("k").agg(count(lit(1)).as("n_triangles"))
        .select(substring_index(col("k"), "|", -1).as("source"),
          col("n_triangles"))
        .orderBy("source")
    }))

  def oracle: Map[String, String] = Map(
    "q95_heavy_hitters" ->
      s"""WITH s AS (SELECT concat('k', CAST(CASE WHEN event_id % 100 < 60
         |    THEN event_id % 3 ELSE event_id % 97 + 100 END AS VARCHAR)) AS item
         |  FROM events),
         |c AS (SELECT item, COUNT(*) AS n_true FROM s GROUP BY 1),
         |t AS (SELECT CAST(SUM(n_true) AS BIGINT) AS n FROM c)
         |SELECT item, n_true, TRUE AS in_sketch, TRUE AS within_bound
         |FROM c, t WHERE n_true * ${hhK + 1} > n ORDER BY item""".stripMargin,
    "q91_semantic_dedup" -> {
      import graft.functions.VectorFunctions.{sqlCosineFrom, sqlDot}
      val cCos = sqlCosineFrom(sqlDot("e.embedding", "c.ce"), "e.n2", "c.cn2")
      val abCos = sqlCosineFrom(sqlDot("a.embedding", "b.embedding"), "a.n2", "b.n2")
      s"""WITH ${SimilarityQueries.sqlEmb},
         |c AS (SELECT vec_id AS c_id, embedding AS ce, n2 AS cn2
         |      FROM e WHERE vec_id IN (${SimilarityQueries.centroidIds.mkString(",")})),
         |cells AS (
         |  SELECT vec_id, embedding, n2, cell FROM (
         |    SELECT e.vec_id, e.embedding, e.n2, c.c_id AS cell,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY $cCos DESC, c.c_id) AS rn
         |    FROM e, c) WHERE rn = 1)
         |SELECT DISTINCT a.vec_id, a.cell FROM cells a JOIN cells b
         |  ON b.cell = a.cell AND b.vec_id < a.vec_id AND $abCos > $semTau
         |ORDER BY a.vec_id""".stripMargin
    },
    "q89_source_cap" ->
      s"""WITH d AS (SELECT source, doc_id, n_chars,
         |            ${sqlSpreadHash("text")} AS h FROM documents),
         |r AS (SELECT source, doc_id, n_chars, h,
         |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
         |      FROM d)
         |SELECT source, doc_id, n_chars, h FROM r WHERE rn <= $sourceCap
         |ORDER BY source, doc_id""".stripMargin,
    "q92_global_index" ->
      """SELECT doc_id, source, n_chars,
        |  CAST(ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS BIGINT)
        |    AS global_idx
        |FROM documents ORDER BY global_idx""".stripMargin,
    "q93_activity_streaks" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |r AS (SELECT user_id, day,
        |        CAST(day - DATE '1970-01-01' AS BIGINT)
        |          - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
        |      FROM d),
        |i AS (SELECT user_id, grp, COUNT(*) AS len FROM r GROUP BY 1, 2)
        |SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
        |  COUNT(*) AS n_streaks, CAST(MAX(len) AS BIGINT) AS longest_streak
        |FROM i GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q94_interval_concurrency" ->
      """WITH ev AS (SELECT event_type, event_id,
        |        CAST(epoch_ns(ts) AS BIGINT) AS tns,
        |        event_id % 3600 + 60 AS dur_s FROM events),
        |s AS (SELECT event_type, tns AS t, CAST(1 AS BIGINT) AS delta, event_id
        |      FROM ev
        |      UNION ALL
        |      SELECT event_type, tns + dur_s * 1000000000,
        |        CAST(-1 AS BIGINT), event_id FROM ev),
        |c AS (SELECT event_type,
        |        SUM(delta) OVER (PARTITION BY event_type
        |          ORDER BY t, delta, event_id ROWS UNBOUNDED PRECEDING) AS c
        |      FROM s)
        |SELECT event_type, CAST(MAX(c) AS BIGINT) AS max_concurrent,
        |  COUNT(*) // 2 AS n_intervals
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q90_domain_pagerank" -> {
      val base =
        s"""WITH $sqlDomainGraph,
           |ow AS (SELECT src, SUM(w) AS wout FROM e GROUP BY 1),
           |n AS (SELECT DISTINCT src AS domain FROM e),
           |r0 AS (SELECT domain, CAST($prInit AS BIGINT) AS pr FROM n)""".stripMargin
      val steps = (1 to prIters).map { i =>
        s"""r$i AS (SELECT n.domain,
           |  CAST(150000 + ((85 * COALESCE(s.csum, 0)) // 100) AS BIGINT) AS pr
           |  FROM n LEFT JOIN (
           |    SELECT e.dst, SUM((p.pr * e.w) // ow.wout) AS csum
           |    FROM e JOIN ow ON ow.src = e.src
           |           JOIN r${i - 1} p ON p.domain = e.src
           |    GROUP BY e.dst) s ON s.dst = n.domain)""".stripMargin
      }.mkString(",\n")
      s"""$base,
         |$steps
         |SELECT domain, pr FROM r$prIters ORDER BY pr DESC, domain""".stripMargin
    },
    "q103_triangle_count" ->
      s"""WITH us AS (SELECT source,
         |      unnest(regexp_extract_all(${TextAnalysisQueries.sqlUrlText},
         |        '${TextAnalysisQueries.urlRe}')) AS url FROM documents),
         |sd AS (SELECT DISTINCT source,
         |        regexp_extract(url, 'https?://([^/]+)', 1) AS domain FROM us),
         |e AS (SELECT x.source AS a, y.source AS b
         |      FROM sd x JOIN sd y
         |        ON x.domain = y.domain AND x.source < y.source
         |      GROUP BY 1, 2 HAVING COUNT(*) >= $triMinShared),
         |t AS (SELECT e1.a, e1.b, e2.b AS c
         |      FROM e e1 JOIN e e2 ON e2.a = e1.b
         |      WHERE EXISTS (SELECT 1 FROM e e3
         |                    WHERE e3.a = e1.a AND e3.b = e2.b)),
         |v AS (SELECT unnest([a, b, c]) AS source FROM t)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_triangles
         |FROM v GROUP BY source ORDER BY source""".stripMargin)

  /** The u/d/e CTE chain of the domain co-occurrence graph —
    * [[domainEdges]] rendered for DuckDB (q90).
    */
  private def sqlDomainGraph: String =
    s"""u AS (SELECT doc_id,
       |      unnest(regexp_extract_all(${TextAnalysisQueries.sqlUrlText},
       |        '${TextAnalysisQueries.urlRe}')) AS url FROM documents),
       |d AS (SELECT DISTINCT doc_id,
       |        regexp_extract(url, 'https?://([^/]+)', 1) AS domain FROM u),
       |e AS (SELECT a.domain AS src, b.domain AS dst, COUNT(*) AS w
       |      FROM d a JOIN d b ON a.doc_id = b.doc_id AND a.domain <> b.domain
       |      GROUP BY 1, 2)""".stripMargin
}
