package graft.queries

import graft.analyze.ClusterAnalyzer
import graft.classify.IssueClassifier
import graft.parse.LogLineParser
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's log-analytics surface exercised over the driver's
  * parquet fixtures (FIXTURES.md §B): `events` rows are deterministically
  * rendered as Cassandra-style log lines, then the REAL parse/classify/
  * analyze pipeline runs on them, with DuckDB oracle twins built from the
  * same constants (no drift possible).
  *
  * Mapping: q11=P1 parse, q12=F1+A2 classify histogram, q13=A1 summary
  * (dual counting), q14=F2+W1 search with line numbers, q15=A7
  * recommendations, q16=compare_nodes, q17=get_errors (SURVEY.md §2).
  */
object LogDomainQueries extends graft.QueryFamily {

  /** Deterministic event→log-line corpus, shared between the Spark plan
    * and the DuckDB CTE. Message planted by `event_id % 40` bucket so
    * every SF trips all five recommendation thresholds.
    */
  object Corpus {
    val bucketMessages: Seq[String] = Seq(
      "Read timed out after 5000ms", // -> timeout   (>10 rule)
      "dropped 42 mutation messages in last 5s", // -> dropped (>10)
      "GC pause of 1200ms exceeded threshold", // -> gc       (>5)
      "tombstone warning: scanned 10000 tombstones", // -> tombstone (>5)
      "java.lang.OutOfMemoryError: Java heap space") // -> oom  (>0)

    def levelExpr: Column =
      when(col("event_type") === "error", "ERROR")
        .when(col("event_type") === "view", "WARN")
        .when(col("event_type") === "click", "DEBUG")
        .otherwise("INFO")

    def messageExpr: Column =
      bucketMessages.zipWithIndex.foldRight(
        concat(col("event_type"), lit(" ok")): Column) { case ((m, i), acc) =>
        when(col("event_id") % 40 === i, m).otherwise(acc)
      }

    /** events + node/level/ts_str/message/line columns. */
    def logs(spark: SparkSession, dir: String): DataFrame =
      logsOf(Tables.events(spark, dir))

    /** The same derivation over ANY frame carrying (event_id, user_id,
      * event_type, ts_ns) — lets the streaming tier (q188) render
      * lines inside a micro-batch with the exact batch expressions.
      */
    def logsOf(events: DataFrame): DataFrame =
      events
        .withColumn("node", concat(lit("node"), (col("user_id") % 4).cast("string")))
        .withColumn("level", levelExpr)
        .withColumn("ts_str", expr("ts_ns div 1000000").cast("string"))
        .withColumn("message", messageExpr)
        .withColumn("line", concat(
          col("level"), lit(" ["), col("ts_str"), lit("] [thread-"),
          (col("user_id") % 8).cast("string"), lit("] app.Handler:"),
          (col("event_id") % 997).cast("string"), lit(" - "), col("message")))

    /** ONE template/parameter extraction for the whole mining tier —
      * the q183/q187/q190/q191 gates, the q188 streaming screen, the
      * LogOps pipeline, and the MCP `mine_templates` /
      * `detect_slot_anomalies` tools all mask digit runs and pull
      * parameters through these two expressions, so the template a
      * tool reports IS the gated one.
      */
    def templateOf(line: Column): Column =
      regexp_replace(line, "[0-9]+", "<N>")
    def numRuns(line: Column): Column =
      call_function("regexp_extract_all", line, lit("[0-9]+"), lit(0))

    /** q318's continuation corpus: every ERROR line is followed by a
      * deterministic Java stack trace — the `ClassName: message`
      * exception line plus 1–4 tab-indented `\tat ...` frames — none
      * of which match the reference's parse regex (they are exactly
      * the lines `cassandra_log_analyzer.py:203` drops). Class and
      * frame count derive from event_id, so both engines render the
      * identical byte sequences.
      */
    val exceptionClasses: Seq[String] = Seq(
      "java.lang.OutOfMemoryError",
      "org.apache.cassandra.exceptions.ReadTimeoutException",
      "java.io.IOException")

    /** The continuation-line array for one ERROR event (element 0 is
      * the exception line, the rest are `\tat` frames).
      */
    def contLines: Column = {
      val cls = element_at(
        array(exceptionClasses.map(lit): _*),
        (col("event_id") % 3 + 1).cast("int"))
      val nCont = (col("event_id") % 4 + 2).cast("int")
      transform(sequence(lit(0), nCont - 1), j =>
        when(j === 0, concat(cls, lit(": "), col("message")))
          .otherwise(concat(
            lit("\tat org.apache.cassandra.service.StorageProxy." +
              "fetchRows(StorageProxy.java:"),
            (col("event_id") % 997 + j).cast("string"), lit(")"))))
    }

    /** The same corpus as a DuckDB CTE (`ev`). */
    val sqlCte: String = {
      val buckets = bucketMessages.zipWithIndex.map { case (m, i) =>
        s"WHEN event_id % 40 = $i THEN '$m'"
      }.mkString("\n           ")
      s"""WITH ev AS (
         |  SELECT event_id, user_id,
         |    concat('node', CAST(user_id % 4 AS VARCHAR)) AS node,
         |    CASE event_type WHEN 'error' THEN 'ERROR' WHEN 'view' THEN 'WARN'
         |         WHEN 'click' THEN 'DEBUG' ELSE 'INFO' END AS level,
         |    CAST(epoch_ms(ts) AS VARCHAR) AS ts_str,
         |    CASE $buckets
         |         ELSE concat(event_type, ' ok') END AS message
         |  FROM events),
         |ev_lines AS (
         |  SELECT *, concat(level, ' [', ts_str, '] [thread-',
         |    CAST(user_id % 8 AS VARCHAR), '] app.Handler:',
         |    CAST(event_id % 997 AS VARCHAR), ' - ', message) AS line
         |  FROM ev)""".stripMargin
    }

    /** OR-chain of regexp_matches for a pattern set (DuckDB twin of
      * IssueClassifier.matchesAny*).
      */
    def sqlAnyMatch(patterns: Seq[(String, String)]): String =
      patterns.map { case (_, p) => s"regexp_matches(message, '$p')" }
        .mkString("(", " OR ", ")")

    val sqlIsError: String = s"(level = 'ERROR' OR ${sqlAnyMatch(IssueClassifier.errorPatterns)})"
    val sqlIsWarning: String = s"(level = 'WARN' OR ${sqlAnyMatch(IssueClassifier.warningPatterns)})"
  }

  import Corpus._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P1: regex parse-projection round-trip — the reference's exact parse
    // regex over synthesized lines (regex evaluates in the scan stage
    // under whole-stage codegen; no shuffle)
    "q11_parse_extract" -> ((s, dir) => {
      val lines = logs(s, dir).select("event_id", "line")
      lines.where(LogLineParser.matches(col("line")))
        .select((col("event_id") +: LogLineParser.parsedColumns(col("line"))): _*)
        .orderBy("event_id")
    }),

    // F1+A2: 14-pattern classify histogram over documents.text
    "q12_classify_histogram" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(explode(IssueClassifier.issues(col("text"))).as("issue"))
        .groupBy(col("issue.severity").as("severity"),
          col("issue.issueType").as("issue_type"))
        .agg(count(lit(1)).as("occurrences"))
        .orderBy(desc("occurrences"), asc("issue_type"))
    }),

    // A1: per-node summary with dual error/warning counting
    "q13_level_summary" -> ((s, dir) => {
      logs(s, dir).groupBy("node").agg(
        count(when(IssueClassifier.isError(col("level"), col("message")), 1)).as("errors"),
        count(when(IssueClassifier.isWarning(col("level"), col("message")), 1)).as("warnings"),
        count(lit(1)).as("total_lines"))
        .orderBy("node")
    }),

    // F2+W1: regex search with pre-assigned per-source line numbers
    "q14_search_linenum" -> ((s, dir) => {
      val w = Window.partitionBy("source").orderBy("doc_id")
      Tables(s, dir, "documents")
        .withColumn("line_number", row_number().over(w).cast("long"))
        .where(col("text").rlike("(?i)(slow.*query)"))
        .select(col("source"), col("line_number"), col("doc_id"),
          trim(col("text")).as("content"))
        .orderBy("source", "line_number")
        .limit(100)
    }),

    // A7: threshold rules over the issue histogram (broadcast rules join)
    "q15_recommendations" -> ((s, dir) => {
      val hist = logs(s, dir)
        .select(explode(IssueClassifier.issues(col("message"))).as("issue"))
        .groupBy(col("issue.issueType").as("issue_type"))
        .agg(count(lit(1)).as("occurrences"))
      ClusterAnalyzer.recommendationsPlan(s, hist)
    }),

    // compare_nodes: request order, unknown nodes skipped
    "q16_compare_nodes" -> ((s, dir) => {
      val summary = logs(s, dir).groupBy("node").agg(
        count(when(IssueClassifier.isError(col("level"), col("message")), 1)).as("errors"),
        count(when(IssueClassifier.isWarning(col("level"), col("message")), 1)).as("warnings"),
        count(lit(1)).as("total_lines"))
      val req = Seq("node3", "node1", "ghost")
      val order = map(req.zipWithIndex.flatMap { case (n, i) => Seq(lit(n), lit(i)) }: _*)
      summary.where(col("node").isin(req: _*))
        .withColumn("__ord", element_at(order, col("node")))
        .orderBy("__ord").drop("__ord")
    }),

    // get_errors: error entries flattened in node order, first 50
    "q17_get_errors" -> ((s, dir) => {
      logs(s, dir)
        .where(IssueClassifier.isError(col("level"), col("message")))
        .select(col("node"), col("ts_str").as("timestamp"), col("message"),
          col("event_id"))
        .orderBy("node", "event_id")
        .limit(50)
    }),

    // Log TEMPLATE MINING — the standard first step of log analytics
    // (Drain/Spell family, public): every digit run in a line masks to
    // <N>, collapsing the corpus's thousands of concrete lines
    // (epoch timestamps, thread ids, source line numbers, message
    // parameters all vary) into the few dozen structural templates,
    // each with its volume, node spread, parameter-slot count, and
    // first occurrence. Template extraction is a scan-stage
    // regexp_replace; the rollup shuffles onto template-count keys (a
    // bounded set by construction — log formats are finite), so at
    // 100 TB this is one scan + a tiny agg: the operator that turns
    // raw log volume into a navigable schema.
    "q183_log_templates" -> ((s, dir) => {
      logs(s, dir)
        .select(col("node"), col("event_id"),
          templateOf(col("line")).as("template"),
          size(numRuns(col("line"))).cast("long").as("n_params"))
        .groupBy("template")
        .agg(count(lit(1)).as("n_lines"),
          countDistinct(col("node")).as("n_nodes"),
          max(col("n_params")).as("n_params"),
          min(col("event_id")).as("first_event"))
        .orderBy(desc("n_lines"), asc("template"))
    }),

    // Per-template PARAMETER extraction — the other half of
    // Drain/Spell-style mining: q183 collapses lines to templates but
    // discards the masked `<N>` values; this recovers them. Per
    // (template, slot), the stats a log user reaches for right after
    // the template list — how many values, how many distinct (a
    // constant? an id space? a free numeric?), and the range (latency
    // slots show their spread, timestamp slots their window). One scan:
    // the digit runs are already extracted by the SAME
    // regexp_extract_all as q183's n_params, posexplode is bounded by
    // params-per-line, and the rollup shuffles onto (template, slot)
    // keys — templates × slots is bounded by construction (log formats
    // are finite), so at 100 TB this is one scan + a tiny agg, exactly
    // q183's shape with a per-line constant-factor expand.
    "q187_template_params" -> ((s, dir) => {
      logs(s, dir)
        .select(
          templateOf(col("line")).as("template"),
          posexplode(numRuns(col("line"))).as(Seq("slot", "v")))
        .select(col("template"), col("slot").cast("long").as("slot"),
          col("v").cast("long").as("v"))
        .groupBy("template", "slot")
        .agg(count(lit(1)).as("n_values"),
          countDistinct(col("v")).as("n_distinct"),
          min(col("v")).as("min_val"),
          max(col("v")).as("max_val"))
        .orderBy("template", "slot")
    }),

    // Incremental template-CATALOG refresh — the q163 delta convention
    // on the log-mining tier, closing the q188 loop (detect → ABSORB):
    // the persisted catalog artifact is kept at (template, node) grain
    // — every stat is then mergeable (n_lines sums, n_params maxes,
    // first_event mins; n_nodes falls out as the row count) — so the
    // arriving window contributes ONE grain-agg over its own lines
    // (history is never re-scanned) and the refresh is one co-keyed
    // regroup. The merged catalog ≡ q183's from-scratch mining
    // EXACTLY, and the oracle IS q183's twin verbatim (the q98↔q163
    // sharing applied to log analytics). At 100 TB: refresh ∝ the
    // window's lines; both relations key on the construction-bounded
    // template set.
    "q190_template_catalog_refresh" -> ((s, dir) => {
      val lines = logs(s, dir).withColumn("us", expr("ts_ns div 1000"))
        .select(col("node"), col("event_id"), col("us"),
          templateOf(col("line")).as("template"),
          size(numRuns(col("line"))).cast("long").as("n_params"))
      val mm = lines.agg(min(col("us")), max(col("us"))).head()
      val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) * 2 / 3
      def grainAgg(df: DataFrame) = df.groupBy("template", "node")
        .agg(count(lit(1)).as("n_lines"), max(col("n_params")).as("n_params"),
          min(col("event_id")).as("first_event"))
      val oldCat = grainAgg(lines.where(col("us") < cut))
      val deltaCat = grainAgg(lines.where(col("us") >= cut))
      oldCat.union(deltaCat)
        .groupBy("template", "node")
        .agg(sum(col("n_lines")).as("n_lines"),
          max(col("n_params")).as("n_params"),
          min(col("first_event")).as("first_event"))
        .groupBy("template")
        .agg(sum(col("n_lines")).as("n_lines"),
          count(lit(1)).as("n_nodes"),
          max(col("n_params")).as("n_params"),
          min(col("first_event")).as("first_event"))
        .orderBy(desc("n_lines"), asc("template"))
    }),

    // Per-slot ANOMALY screen — the alerting op after q187's
    // extraction, and the Drain-style second stage after q188's
    // emergence (q188 surfaces unknown TEMPLATES; this surfaces known
    // templates with out-of-range VALUES — a latency past its
    // historical max, an id outside its space): history-window
    // [min, max] envelopes per (template, slot) screen the recent
    // window's values. The envelope relation is (template × slot)-
    // bounded, so it BROADCASTS and the screen is one scan-stage probe
    // — per-slot verdicts aggregate back onto the bounded keys.
    // Monotone slots (timestamps) price themselves honestly:
    // n_anomalous = n_checked, which is exactly why deployments read
    // this table before wiring alerts.
    // STACK-TRACE CONTINUATION GROUPING — the reference domain's most
    // real unserved query: the CLA parser silently drops every
    // non-matching line (CLA:203,240-241), and in real Cassandra logs
    // those are overwhelmingly Java stack-trace continuations. This
    // gate renders the corpus WITH deterministic stack traces after
    // each ERROR line (Corpus.contLines), per-node line-numbers the
    // merged stream, then runs [[graft.analyze.StackTraces]] — a
    // gaps-and-islands pass keyed by the REAL parse flag (island id =
    // running count of parsed lines per node, one shuffle), rolled up
    // to the (node, exception_class) histogram with per-incident
    // frame counts and spans. The oracle replays the identical
    // rendering, numbering, islands, and regexp extraction, so a
    // missed continuation, an island split on the wrong flag, or an
    // exception-class misparse shifts a row. At 100 TB the islands
    // pass runs per (node, log file) — file boundaries are island
    // boundaries — so partitions stay file-sized; islands are bounded
    // by stack-trace depth, never corpus-scaled. Surfaced over MCP as
    // `group_stack_traces` beside `mine_templates`.
    "q318_stack_trace_group" -> ((s, dir) => {
      val base = logs(s, dir)
      val heads = base.select(col("node"), col("event_id"),
        lit(0L).as("sub"), col("line"))
      val conts = base.where(col("level") === "ERROR")
        .select(col("node"), col("event_id"),
          posexplode(contLines).as(Seq("j", "cline")))
        .select(col("node"), col("event_id"),
          (col("j") + 1).cast("long").as("sub"), col("cline").as("line"))
      val wNum = Window.partitionBy("node").orderBy("event_id", "sub")
      val raw = heads.unionByName(conts)
        .withColumn("line_no", row_number().over(wNum).cast("long"))
        .select("node", "line_no", "line")
      graft.analyze.StackTraces.rollup(
        graft.analyze.StackTraces.incidents(raw))
    }),

    "q191_slot_anomaly" -> ((s, dir) => {
      val lines = logs(s, dir).withColumn("us", expr("ts_ns div 1000"))
      val mm = lines.agg(min(col("us")), max(col("us"))).head()
      val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) * 2 / 3
      def slots(df: DataFrame) = df.select(
          templateOf(col("line")).as("template"),
          posexplode(numRuns(col("line"))).as(Seq("slot", "v")))
        .select(col("template"), col("slot").cast("long").as("slot"),
          col("v").cast("long").as("v"))
      val isAnom = col("v") < col("lo") || col("v") > col("hi")
      val hist = slots(lines.where(col("us") < cut))
        .groupBy("template", "slot")
        .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      slots(lines.where(col("us") >= cut))
        .join(broadcast(hist), Seq("template", "slot"))  // hint audit: (template x slot)-bounded (log formats are finite)
        .groupBy("template", "slot", "lo", "hi")
        .agg(count(lit(1)).as("n_checked"),
          sum(when(isAnom, 1L).otherwise(0L)).as("n_anomalous"),
          min(when(isAnom, col("v"))).as("min_anom"),
          max(when(isAnom, col("v"))).as("max_anom"))
        .orderBy("template", "slot")
    }))

  def oracle: Map[String, String] = {
    val parsedCols = Seq("level" -> 1, "timestamp" -> 2, "thread" -> 3,
      "clazz" -> 4, "line" -> 5, "message" -> 6)
      .map { case (n, i) =>
        s"regexp_extract(line, '${LogLineParser.pattern}', $i) AS $n"
      }.mkString(",\n  ")
    val histArms = IssueClassifier.allPatterns.map { case (sev, t, p) =>
      s"SELECT '$sev' AS severity, '$t' AS issue_type, COUNT(*) AS occurrences FROM documents WHERE regexp_matches(text, '$p')"
    }.mkString("\nUNION ALL\n")
    val ruleHistArms = ClusterAnalyzer.rules.map { case (key, _, _) =>
      val p = IssueClassifier.errorPatterns.toMap.apply(key)
      s"SELECT '$key' AS issue_type, COUNT(*) AS occurrences FROM ev WHERE regexp_matches(message, '$p')"
    }.mkString("\nUNION ALL\n")
    val ruleValues = ClusterAnalyzer.rules.zipWithIndex.map {
      case ((key, thr, rec), i) =>
        s"($i, '$key', $thr, '${rec.severity}', '${rec.issue}', '${rec.recommendation}')"
    }.mkString(",\n  ")

    Map(
      "q11_parse_extract" ->
        s"""$sqlCte
           |SELECT event_id,
           |  $parsedCols
           |FROM ev_lines
           |WHERE regexp_matches(line, '^${LogLineParser.pattern}')
           |ORDER BY event_id""".stripMargin,
      "q12_classify_histogram" ->
        s"""SELECT severity, issue_type, occurrences FROM (
           |$histArms
           |) WHERE occurrences > 0
           |ORDER BY occurrences DESC, issue_type""".stripMargin,
      "q13_level_summary" ->
        s"""$sqlCte
           |SELECT node,
           |  COUNT(*) FILTER (WHERE $sqlIsError) AS errors,
           |  COUNT(*) FILTER (WHERE $sqlIsWarning) AS warnings,
           |  COUNT(*) AS total_lines
           |FROM ev GROUP BY node ORDER BY node""".stripMargin,
      "q14_search_linenum" ->
        """SELECT source, line_number, doc_id, content FROM (
          |  SELECT source, doc_id,
          |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS line_number,
          |         trim(text) AS content,
          |         text
          |  FROM documents) t
          |WHERE regexp_matches(text, '(?i)(slow.*query)')
          |ORDER BY source, line_number LIMIT 100""".stripMargin,
      "q15_recommendations" ->
        s"""$sqlCte,
           |hist AS (
           |$ruleHistArms
           |)
           |SELECT severity, issue, recommendation
           |FROM (VALUES
           |  $ruleValues) AS rules(ord, issue_type, threshold, severity, issue, recommendation)
           |JOIN hist USING (issue_type)
           |WHERE occurrences > threshold
           |ORDER BY ord""".stripMargin,
      "q16_compare_nodes" ->
        s"""$sqlCte
           |SELECT node,
           |  COUNT(*) FILTER (WHERE $sqlIsError) AS errors,
           |  COUNT(*) FILTER (WHERE $sqlIsWarning) AS warnings,
           |  COUNT(*) AS total_lines
           |FROM ev WHERE node IN ('node3', 'node1', 'ghost')
           |GROUP BY node
           |ORDER BY CASE node WHEN 'node3' THEN 0 WHEN 'node1' THEN 1 ELSE 2 END""".stripMargin,
      "q17_get_errors" ->
        s"""$sqlCte
           |SELECT node, ts_str AS timestamp, message, event_id
           |FROM ev WHERE $sqlIsError
           |ORDER BY node, event_id LIMIT 50""".stripMargin,

      "q183_log_templates" ->
        s"""$sqlCte
           |SELECT regexp_replace(line, '[0-9]+', '<N>', 'g') AS template,
           |  CAST(COUNT(*) AS BIGINT) AS n_lines,
           |  CAST(COUNT(DISTINCT node) AS BIGINT) AS n_nodes,
           |  CAST(MAX(len(regexp_extract_all(line, '[0-9]+'))) AS BIGINT)
           |    AS n_params,
           |  MIN(event_id) AS first_event
           |FROM ev_lines
           |GROUP BY 1 ORDER BY n_lines DESC, template""".stripMargin,

      // the q151 struct_pack-unnest device gives the 0-based slot
      // position the Spark side's posexplode produces
      "q187_template_params" ->
        s"""$sqlCte,
           |tl AS (SELECT regexp_replace(line, '[0-9]+', '<N>', 'g') AS template,
           |         regexp_extract_all(line, '[0-9]+') AS vals
           |       FROM ev_lines),
           |tv AS (SELECT template,
           |         unnest(list_transform(range(1, len(vals) + 1), i ->
           |           struct_pack(slot := CAST(i - 1 AS BIGINT),
           |             v := CAST(vals[CAST(i AS INT)] AS BIGINT)))) AS u
           |       FROM tl)
           |SELECT template, (u).slot AS slot,
           |  CAST(COUNT(*) AS BIGINT) AS n_values,
           |  CAST(COUNT(DISTINCT (u).v) AS BIGINT) AS n_distinct,
           |  CAST(MIN((u).v) AS BIGINT) AS min_val,
           |  CAST(MAX((u).v) AS BIGINT) AS max_val
           |FROM tv GROUP BY 1, 2 ORDER BY template, slot""".stripMargin,

      // q183's from-scratch twin VERBATIM (the q98↔q163 sharing): the
      // incrementally merged catalog must equal full-corpus mining
      "q190_template_catalog_refresh" ->
        s"""$sqlCte
           |SELECT regexp_replace(line, '[0-9]+', '<N>', 'g') AS template,
           |  CAST(COUNT(*) AS BIGINT) AS n_lines,
           |  CAST(COUNT(DISTINCT node) AS BIGINT) AS n_nodes,
           |  CAST(MAX(len(regexp_extract_all(line, '[0-9]+'))) AS BIGINT)
           |    AS n_params,
           |  MIN(event_id) AS first_event
           |FROM ev_lines
           |GROUP BY 1 ORDER BY n_lines DESC, template""".stripMargin,

      // identical rendering (chr(9) = the Scala literal tab), identical
      // (event_id, sub) numbering, identical islands over the REAL
      // anchored parse regex, identical exception-class extraction
      // (both engines return '' on no-match, so MAX picks the class
      // line order-independently)
      "q318_stack_trace_group" -> {
        val clsArms = Corpus.exceptionClasses.zipWithIndex.map {
          case (c, i) => s"WHEN $i THEN '$c'"
        }.mkString(" ")
        s"""$sqlCte,
           |exl AS (SELECT node, event_id, level, message,
           |    CASE CAST(event_id % 3 AS INT) $clsArms END AS excls
           |  FROM ev_lines),
           |conts AS (SELECT node, event_id, CAST(t.j + 1 AS BIGINT) AS sub,
           |    CASE WHEN t.j = 0 THEN concat(excls, ': ', message)
           |      ELSE concat(chr(9), 'at org.apache.cassandra.service.',
           |        'StorageProxy.fetchRows(StorageProxy.java:',
           |        CAST(event_id % 997 + t.j AS VARCHAR), ')') END AS line
           |  FROM exl, range(0, 6) t(j)
           |  WHERE level = 'ERROR' AND t.j <= event_id % 4 + 1),
           |alll AS (SELECT node, event_id, CAST(0 AS BIGINT) AS sub, line
           |    FROM ev_lines
           |  UNION ALL SELECT node, event_id, sub, line FROM conts),
           |num AS (SELECT node, line,
           |    ROW_NUMBER() OVER (PARTITION BY node ORDER BY event_id, sub)
           |      AS line_no,
           |    CASE WHEN regexp_matches(line, '^${LogLineParser.pattern}')
           |      THEN 1 ELSE 0 END AS parsed,
           |    regexp_extract(line, '^${LogLineParser.pattern}', 1) AS plevel
           |  FROM alll),
           |isl AS (SELECT *, SUM(parsed) OVER (PARTITION BY node
           |    ORDER BY line_no) AS island FROM num),
           |inc AS (SELECT node, island,
           |    MIN(line_no) AS first_line_no, MAX(line_no) AS last_line_no,
           |    COUNT(*) - 1 AS n_frames,
           |    MAX(CASE WHEN parsed = 1 THEN plevel END) AS head_level,
           |    MAX(CASE WHEN parsed = 0 THEN regexp_extract(line,
           |      '^([A-Za-z_$$][A-Za-z0-9_$$.]*(?:Exception|Error))', 1)
           |      END) AS exception_class
           |  FROM isl GROUP BY 1, 2)
           |SELECT node, exception_class,
           |  CAST(COUNT(*) AS BIGINT) AS n_incidents,
           |  CAST(SUM(n_frames) AS BIGINT) AS n_frames_total,
           |  CAST(MAX(last_line_no - first_line_no + 1) AS BIGINT)
           |    AS max_span,
           |  CAST(MIN(first_line_no) AS BIGINT) AS first_line
           |FROM inc WHERE head_level = 'ERROR' AND n_frames >= 1
           |GROUP BY 1, 2 ORDER BY node, exception_class""".stripMargin
      },

      "q191_slot_anomaly" ->
        s"""$sqlCte,
           |tl AS (SELECT l.event_id,
           |         regexp_replace(l.line, '[0-9]+', '<N>', 'g') AS template,
           |         regexp_extract_all(l.line, '[0-9]+') AS vals,
           |         epoch_us(e.ts) AS us
           |       FROM ev_lines l JOIN events e USING (event_id)),
           |b AS (SELECT MIN(us) + (MAX(us) - MIN(us)) * 2 // 3 AS cut FROM tl),
           |sv AS (SELECT template, us,
           |         unnest(list_transform(range(1, len(vals) + 1), i ->
           |           struct_pack(slot := CAST(i - 1 AS BIGINT),
           |             v := CAST(vals[CAST(i AS INT)] AS BIGINT)))) AS u
           |       FROM tl),
           |s2 AS (SELECT template, us, (u).slot AS slot, (u).v AS v FROM sv),
           |hist AS (SELECT template, slot, MIN(v) AS lo, MAX(v) AS hi
           |         FROM s2 WHERE us < (SELECT cut FROM b) GROUP BY 1, 2)
           |SELECT s.template, s.slot, h.lo, h.hi,
           |  CAST(COUNT(*) AS BIGINT) AS n_checked,
           |  CAST(SUM(CASE WHEN s.v < h.lo OR s.v > h.hi
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous,
           |  MIN(CASE WHEN s.v < h.lo OR s.v > h.hi THEN s.v END) AS min_anom,
           |  MAX(CASE WHEN s.v < h.lo OR s.v > h.hi THEN s.v END) AS max_anom
           |FROM s2 s JOIN hist h USING (template, slot)
           |WHERE s.us >= (SELECT cut FROM b)
           |GROUP BY 1, 2, 3, 4 ORDER BY template, slot""".stripMargin)
  }
}
