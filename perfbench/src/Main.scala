package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import graft.analyze.ClusterAnalyzer
import graft.ingest.{LogCatalog, RemoteFetch, RemoteFetcher}
import graft.mcp.{McpDispatcher, McpServer}
import graft.query.LogQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** What a response must carry: a tool's text, a resource's JSON, or
  * (for the malformed probes) an error, an `isError` result, or the
  * reference's own answer.
  */
sealed trait Expected
final case class ToolText(text: String) extends Expected
final case class ResourceJson(value: JValue) extends Expected
final case class Rejected(orText: Option[String]) extends Expected

/** One request of a scripted session. `kind` is its latency bucket. */
final case class Req(kind: String, method: String, params: JObject, expected: () => Expected) {
  def tool: String = params \ "name" match { case JString(s) => s; case _ => method }
  def arg(k: String): JValue = params \ "arguments" \ k
}

/** A run of requests; `fresh` starts it on an empty catalog. Only
  * `counted` passes make up `wall_s` and the latencies; the others warm
  * up, and their requests are still checked.
  */
final case class Pass(reqs: Seq[Req], fresh: Boolean, counted: Boolean)

final case class OpResult(req: Req, counted: Boolean, ok: Boolean, error: Option[String], ms: Double)

/** Benchmark of the MCP session path: seeded JSON-RPC requests are sent
  * in-process through `McpServer.handleLine` to an `McpDispatcher` over
  * a `LogCatalog`, one closed-loop client on a `local[*]` session built
  * like `McpServer.main`'s. Every response is checked against
  * [[Reference]]. With `--trace 1` it also times its own calls into each
  * layer and reads Spark's counters per request through a listener.
  *
  * Usage: `perfbench.Main --workload NAME --seed N --seconds S --trace 0|1`.
  * The last stdout line is the JSON summary.
  */
object Main {

  // ---------------------------------------------------------------- requests

  private def tool(kind: String, name: String, args: (String, JValue)*)(exp: => Expected): Req = {
    lazy val e = exp
    Req(kind, "tools/call", JObject("name" -> JString(name), "arguments" -> JObject(args.toList)),
      () => e)
  }

  /** `load_logs` of one node; `total` is the catalog's node count after it. */
  private def load(n: LogGen.NodeLog, total: Int): Req =
    tool("load", "load_logs", "node_name" -> JString(n.name), "log_content" -> JString(n.content))(
      ToolText(s"Logs system chargés pour '${n.name}'\nNombre de lignes: ${n.lines}\n" +
        s"Total nodes: $total"))

  private def loadAll(logs: Seq[LogGen.NodeLog]): Seq[Req] =
    logs.zipWithIndex.map { case (l, i) => load(l, i + 1) }

  private def analyze(kind: String, c: => Reference.Cluster): Req =
    tool(kind, "analyze_cluster")(ToolText(Reference.analysis(c)))

  private def resource(c: => Reference.Cluster): Req = {
    lazy val e = ResourceJson(Reference.analysisJson(c))
    Req("resource", "resources/read", JObject("uri" -> JString("cassandra://logs/analysis")), () => e)
  }

  private def search(c: => Reference.Cluster, pattern: String, cs: Boolean, node: Option[String]): Req =
    tool("search", "search_logs",
      Seq("pattern" -> JString(pattern), "case_sensitive" -> JBool(cs)) ++
        node.map(n => "node_filter" -> JString(n)): _*)(
      ToolText(Reference.search(c, pattern, cs, node)))

  private def errors(c: => Reference.Cluster, node: Option[String], limit: Option[Int]): Req =
    tool("errors", "get_errors",
      node.map(n => "node_name" -> (JString(n): JValue)).toSeq ++
        limit.map(l => "limit" -> (JInt(l): JValue)): _*)(
      ToolText(Reference.errors(c, node, limit.getOrElse(50))))

  private def compare(c: => Reference.Cluster, nodes: Seq[String]): Req =
    tool("compare", "compare_nodes", "nodes" -> JArray(nodes.map(JString(_)).toList))(
      ToolText(Reference.compare(c, nodes)))

  private def issues(c: => Reference.Cluster, severity: String): Req =
    tool("issues", "detect_issues", "severity" -> JString(severity))(
      ToolText(Reference.issues(c, severity)))

  // search patterns: frequent ones pass the 100-hit display cap on the
  // whole cluster, rare ones stay far below it
  private val frequent = Vector("Compacted", "flushing", "is now UP", "Memtable", "Handshaking",
    "commitlog position")
  private val rare = Vector("OutOfMemory", "refused", "tombstones during", "Repair session",
    "UnavailableException", "slow query", "MUTATION messages", "coordinator", "GC pause",
    "timed out", "No space left", """/10\.0\.3\.\d+ is now UP""")
  private val caseSensitive = Vector("Compacted", "compacted", "ERROR", "error", "Heap", "heap")
  private val severities = Vector("all", "critical", "high", "medium")

  // ---------------------------------------------------------------- workloads

  /** A seed's inputs: the node logs, the reference analysis of all of
    * them, and a fresh iterator over the passes.
    */
  final case class Prepared(logs: Seq[LogGen.NodeLog], cluster: Reference.Cluster,
                            passes: () => Iterator[Pass])

  /** A workload: its recorded parameters and its seeded inputs. */
  final case class Workload(name: String, spec: GenSpec, mix: String, minPasses: Int,
                            prepare: Long => Prepared)

  private def analyzeAll(logs: Seq[LogGen.NodeLog]): Seq[Reference.NodeAnalysis] = {
    import scala.collection.parallel.CollectionConverters._
    logs.par.map(l => Reference.analyzeNode(l.name, l.content)).seq
  }

  private def memo[K, V](f: K => V): K => V = {
    val m = mutable.HashMap.empty[K, V]
    k => m.getOrElseUpdate(k, f(k))
  }

  /** 8 nodes loaded and analysed cold once, then one call of each
    * other tool; that pass warms up and is not counted. Then passes that each
    * reload one seeded node with the same content, which drops the
    * classified cache, analyse cold again, and send a fixed 11-request
    * mix whose arguments and order are drawn from the seed.
    */
  private val interactive = {
    val spec = GenSpec(nodes = 8, linesPerNode = 10000)
    Workload("mcp_interactive", spec,
      "per pass: reload of 1 node, cold analyze_cluster, then in seeded order: " +
        "1 analyze_cluster, 4 search_logs (frequent, rare, frequent+node_filter, " +
        "case-sensitive), 2 get_errors (all; node+limit), 1 compare_nodes (subset), " +
        "2 detect_issues (all; one severity), 1 resources/read",
      minPasses = 2,
      seed => {
        val logs = LogGen.generate(seed, spec)
        val c = Reference.Cluster(analyzeAll(logs))
        val names = logs.map(_.name).toVector
        val cold = analyze("cold_analyze", c)
        val reload = memo[LogGen.NodeLog, Req](load(_, logs.size))
        val srch = memo[(String, Boolean, Option[String]), Req] { case (p, cs, n) => search(c, p, cs, n) }
        val errs = memo[(Option[String], Option[Int]), Req] { case (n, l) => errors(c, n, l) }
        val iss = memo[String, Req](s => issues(c, s))
        val warm = analyze("analyze", c)
        val res = resource(c)
        val prefix = Pass(loadAll(logs) ++ Seq(cold, warm, srch((frequent(0), false, None)),
          errs((None, None)), compare(c, names), iss("all"), res), fresh = true, counted = false)
        def pick[T](r: Random, v: Vector[T]) = v(r.nextInt(v.size))
        def mix = Iterator.from(0).map { p =>
          val r = new Random(seed * 1000003L + p)
          Pass(Seq(reload(pick(r, logs.toVector)), cold) ++ r.shuffle(Seq(
            warm,
            srch((pick(r, frequent), false, None)),
            srch((pick(r, rare), false, None)),
            srch((pick(r, frequent), false, Some(pick(r, names)))),
            srch((pick(r, caseSensitive), true, None)),
            errs((None, None)),
            errs((Some(pick(r, names)), Some(10 + r.nextInt(41)))),
            compare(c, r.shuffle(names).take(2 + r.nextInt(4))),
            iss("all"), iss(pick(r, severities.tail)),
            res)), fresh = false, counted = true)
        }
        Prepared(logs, c, () => Iterator(prefix) ++ mix)
      })
  }

  /** Episodes of 5 smaller nodes arriving one at a time on an empty
    * catalog; each load is followed by the cold analyze_cluster,
    * get_errors and two detect_issues. Every episode replays the same
    * requests; the first one warms up and is not counted. With an odd
    * node count the median cold analysis is that of the middle catalog
    * size, not the mean of two.
    */
  private val ingest = {
    val spec = GenSpec(nodes = 5, linesPerNode = 3000)
    Workload("mcp_ingest_interleave", spec,
      "per load: load_logs, cold analyze_cluster, get_errors (all), detect_issues (all), " +
        "detect_issues (seeded severity)",
      minPasses = 3,
      seed => {
        val logs = LogGen.generate(seed, spec)
        val nodes = analyzeAll(logs)
        val r = new Random(seed ^ 0x5eedL)
        val reqs = logs.indices.flatMap { k =>
          lazy val c = Reference.Cluster(nodes.take(k + 1))
          Seq(load(logs(k), k + 1), analyze("cold_analyze", c), errors(c, None, None),
            issues(c, "all"), issues(c, severities.tail(r.nextInt(3))))
        }
        Prepared(logs, Reference.Cluster(nodes),
          () => Iterator(Pass(reqs, fresh = true, counted = false)) ++
            Iterator.continually(Pass(reqs, fresh = true, counted = true)))
      })
  }

  private val workloads = Seq(interactive, ingest).map(w => w.name -> w).toMap

  // ---------------------------------------------------------------- session

  /** `McpServer.main`'s session: GraftExtensions, shuffle partitions at
    * its default of 32, UI off; local dirs kept under the working
    * directory.
    */
  private def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[*]")
      .appName("cassandra-log-analyzer")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def dispatcher(spark: SparkSession) =
    new McpDispatcher(new LogCatalog(spark), new RemoteFetcher(RemoteFetch.defaultRunner))

  // ---------------------------------------------------------------- checks

  private def textOf(r: JValue): Option[String] = r \ "result" \ "content" match {
    case JArray(List(item)) => item \ "text" match { case JString(t) => Some(t); case _ => None }
    case _ => None
  }

  private def check(resp: Option[JValue], id: Int, exp: Expected): Boolean = resp match {
    case Some(r) if r \ "id" == JInt(id) =>
      val text = textOf(r)
      exp match {
        case ToolText(t) => r \ "result" \ "isError" == JBool(false) && text.contains(t)
        case ResourceJson(v) => r \ "result" \ "contents" match {
          case JArray(List(item)) => item \ "text" match {
            case JString(t) => compact(render(parse(t))) == compact(render(v))
            case _ => false
          }
          case _ => false
        }
        case Rejected(orText) =>
          r \ "error" != JNothing || r \ "result" \ "isError" == JBool(true) ||
            orText.exists(t => text.contains(t))
      }
    case _ => false
  }

  /** Where a response first departs from the expected text. */
  private def mismatch(resp: Option[JValue], exp: Expected): String = {
    val got = resp.map(r => textOf(r).getOrElse(compact(render(r)))).getOrElse("no response")
    val want = exp match { case ToolText(t) => t; case other => other.toString }
    val i = got.zip(want).indexWhere { case (a, b) => a != b } match {
      case -1 => math.min(got.length, want.length)
      case k => k
    }
    val from = math.max(0, i - 80)
    s"at char $i expected ${compact(render(JString(want.slice(from, i + 120))))} " +
      s"got ${compact(render(JString(got.slice(from, i + 120))))}"
  }

  // ---------------------------------------------------------------- stats

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it:
    * (value, percentile, sample count); the maximum when n <= 10.
    */
  private def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (Double.NaN, Double.NaN, 0)
    else if (n <= 10) (s.last, 1.0, n)
    else (s(n - 11), (n - 10).toDouble / n, n)
  }

  private def num(d: Double): JValue =
    if (d.isNaN || d.isInfinite) JNull
    else JDouble(BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble)

  /** Digest of the generated inputs: equal seeds give equal digests. */
  private def digest(logs: Seq[LogGen.NodeLog]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    logs.foreach { l => md.update(l.name.getBytes(UTF_8)); md.update(l.content.getBytes(UTF_8)) }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  // ---------------------------------------------------------------- tracing

  /** Per-layer samples of the traced phase. */
  final class Layers {
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val counts = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    def inc(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v
    def p50(k: String): Double = median(samples.getOrElse(k, Nil).toSeq)
    def count(k: String): Double = counts.getOrElse(k, 0.0)
  }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Times building a frame plus its executed plan, then running it. */
  private def query(layers: Layers)(build: => DataFrame)(run: DataFrame => Long): Double = {
    val t0 = System.nanoTime()
    val df = build
    df.queryExecution.executedPlan
    val plan = ms(t0)
    val t1 = System.nanoTime()
    val rows = run(df)
    val exec = ms(t1)
    layers.add("query.plan_ms", plan)
    layers.add("query.exec_ms", exec)
    layers.add("query.rows_out", rows.toDouble)
    plan + exec
  }

  /** The benchmark's own calls into the layers beneath one request,
    * issued after it on the same (now warm) catalog under a separate job
    * group, so they never count in the request's span.
    */
  private def sideCalls(layers: Layers, d: McpDispatcher, req: Req, handleMs: Double,
                        loaded: Seq[(String, String)], seenBuilds: java.util.Set[AnyRef]): Unit = {
    val catalog = d.catalog
    def str(k: String) = req.arg(k) match { case JString(s) => Some(s); case _ => None }
    def collect(df: DataFrame) = df.collect().length.toLong
    def report(queryMs: Double): Unit = {
      layers.add(s"${req.kind}.query_ms", queryMs)
      if (req.kind != "cold_analyze") layers.add("report.self_ms", handleMs - queryMs)
    }
    def analysisQueries(): Double = {
      val cls = catalog.classified
      query(layers)(ClusterAnalyzer.summary(cls))(collect) +
        query(layers)(ClusterAnalyzer.issueHistogram(cls))(collect)
    }
    if (req.kind == "load") {
      val t0 = System.nanoTime()
      val (n, _) = new LogCatalog(catalog.spark).loadInline(str("node_name").get, str("log_content").get)
      layers.add("ingest.load_ms", ms(t0))
      layers.inc("ingest.lines_loaded", n.toDouble)
      return
    }
    if (req.kind != "search" && !catalog.isEmpty) {
      // a classified relation this benchmark has not seen was built by
      // this request: count it with the rows it materialised, and time
      // the same materialisation once more
      catalog.classified.queryExecution.withCachedData.collectFirst {
        case r: InMemoryRelation => r.cacheBuilder
      }.filter(b => b.isCachedColumnBuffersLoaded && seenBuilds.add(b)).foreach { b =>
        layers.inc("classify.builds", 1)
        layers.inc("classify.rows_parsed", b.rowCountStats.value.toDouble)
        // the same materialisation on a twin catalog of the same nodes,
        // whose cache entry is its own
        val twin = new LogCatalog(catalog.spark)
        loaded.foreach { case (n, content) => twin.loadInline(n, content) }
        val t0 = System.nanoTime()
        twin.classified.count()
        layers.add("classify.build_ms", ms(t0))
        twin.classified.unpersist(blocking = true)
      }
    }
    req.kind match {
      case "analyze" | "cold_analyze" | "resource" => report(analysisQueries())
      case "search" =>
        val p = str("pattern").get
        val cs = req.arg("case_sensitive") == JBool(true)
        val nf = str("node_filter")
        val q = query(layers)(LogQueries.searchLogs(catalog, p, cs, nf)) { df =>
          val c = df.cache()
          try { val hits = c.limit(100).collect().length; c.count(); hits.toLong }
          finally c.unpersist(blocking = false)
        }
        report(q)
      case "errors" =>
        val lim = req.arg("limit") match { case JInt(i) => i.toInt; case _ => 50 }
        val q = query(layers)(LogQueries.getErrors(catalog, str("node_name"), lim))(collect)
        report(q)
      case "compare" =>
        val nodes = req.arg("nodes") match {
          case JArray(xs) => xs.collect { case JString(s) => s }
          case _ => Nil
        }
        val q = query(layers)(LogQueries.compareNodes(catalog,
          if (nodes.nonEmpty) nodes else catalog.nodeKeys))(collect)
        report(q)
      case "issues" =>
        val sev = str("severity").getOrElse("all")
        val q = query(layers)(LogQueries.detectIssues(catalog, sev))(collect)
        report(q)
      case _ =>
    }
  }

  // ---------------------------------------------------------------- phases

  final class Phase {
    val ops = mutable.ArrayBuffer.empty[OpResult]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val spans = mutable.ArrayBuffer.empty[Span]
    val layers = new Layers
    var gcMs = 0L
    var jitMs = 0L
    var dispatcher: McpDispatcher = null
  }

  private var nextId = 1

  /** One request's round trip: its id and line, the response, the
    * time in `handleLine` and the time including the response render.
    */
  final case class Sent(id: Int, line: String, resp: Option[JValue], handleNs: Long, totalNs: Long)

  private def send(d: McpDispatcher, method: String, params: JValue): Sent = {
    val id = nextId
    nextId += 1
    val line = compact(render(JObject("jsonrpc" -> JString("2.0"), "id" -> JInt(id),
      "method" -> JString(method), "params" -> params)))
    val t0 = System.nanoTime()
    val resp = McpServer.handleLine(line, d)
    val t1 = System.nanoTime()
    resp.foreach(r => compact(render(r))) // the stdio transport's framing
    Sent(id, line, resp, t1 - t0, System.nanoTime() - t0)
  }

  /** Runs passes until `seconds` have elapsed and at least `minPasses`
    * counted passes are done; a pass is never cut short.
    */
  private def runPhase(spark: SparkSession, w: Workload, passes: Iterator[Pass],
                       seconds: Int, traced: Option[SpanListener]): Phase = {
    val workload = w.name
    val ph = new Phase
    val sc = spark.sparkContext
    var d = dispatcher(spark)
    val loaded = mutable.LinkedHashMap.empty[String, String]
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
    val gc0 = gcMs
    val jit0 = jitMs
    val deadline = System.nanoTime() + seconds * 1000000000L
    var counted = 0
    var p = 0
    while (counted < w.minPasses || System.nanoTime() < deadline) {
      val pass = passes.next()
      if (pass.fresh) {
        spark.catalog.clearCache()
        d = dispatcher(spark)
        loaded.clear()
      }
      var wall = 0.0
      pass.reqs.zipWithIndex.foreach { case (req, i) =>
        val group = s"$workload/p$p/$i/${req.kind}"
        traced.foreach(_ => sc.setJobGroup(group, req.tool, interruptOnCancel = false))
        val startMs = System.currentTimeMillis()
        val res = try {
          val Sent(id, line, resp, handleNs, ns) = send(d, req.method, req.params)
          val endMs = System.currentTimeMillis()
          (req.arg("node_name"), req.arg("log_content")) match {
            case (JString(n), JString(content)) if req.kind == "load" => loaded(n) = content
            case _ =>
          }
          traced.foreach { _ =>
            sc.clearJobGroup()
            val t0 = System.nanoTime(); parse(line); val parseMs = ms(t0)
            val t1 = System.nanoTime()
            val bytes = resp.map(r => compact(render(r)).getBytes(UTF_8).length).getOrElse(0)
            val renderMs = ms(t1)
            val handleMs = handleNs / 1e6 - parseMs
            ph.spans += Span(group, req.kind, startMs, endMs, Map(
              "mcp.frame_ms" -> (parseMs + renderMs), "mcp.handle_ms" -> handleMs,
              "mcp.response_bytes" -> bytes.toDouble))
            sc.setJobGroup("side", "per-layer calls", interruptOnCancel = false)
            sideCalls(ph.layers, d, req, handleMs, loaded.toSeq, seen)
          }
          val good = check(resp, id, req.expected())
          if (!good) System.err.println(s"perfbench: wrong output for ${req.tool} " +
            s"${compact(render(req.params \ "arguments")).take(200)}: ${mismatch(resp, req.expected())}")
          OpResult(req, pass.counted, good, if (good) None else Some("WrongOutput"), ns / 1e6)
        } catch {
          case NonFatal(e) => OpResult(req, pass.counted, ok = false, Some(e.getClass.getName), 0)
        } finally traced.foreach(_ => sc.clearJobGroup())
        if (res.ok) wall += res.ms
        ph.ops += res
      }
      if (pass.counted) { ph.passWalls += wall / 1e3; counted += 1 }
      p += 1
    }
    ph.gcMs = gcMs - gc0
    ph.jitMs = jitMs - jit0
    ph.dispatcher = d
    ph
  }

  /** Requests sent after the timed phase, outside its counts. The
    * malformed ones must each get exactly one response with its id: an
    * error or an `isError` result (the unknown node may also get the
    * reference's empty answer). The last one searches stack-frame lines,
    * which start with a tab that the reference strips from each hit.
    * Afterwards the catalog must still answer correctly.
    */
  private def probes(d: McpDispatcher, c: Reference.Cluster): (Seq[(String, Option[String])], Boolean) = {
    val cases = Seq(
      "search_logs invalid regex" -> tool("probe", "search_logs", "pattern" -> JString("([unclosed"))(
        Rejected(None)),
      "get_errors limit=-1" -> tool("probe", "get_errors", "limit" -> JInt(-1))(Rejected(None)),
      "get_errors unknown node" -> tool("probe", "get_errors", "node_name" -> JString("node99"))(
        Rejected(Some(Reference.errors(c, Some("node99"), 50)))),
      "search_logs tab-indented hits" -> search(c, "forceBlockingFlush", false, None))
    val outcomes = cases.map { case (name, req) =>
      name -> (try {
        val Sent(id, _, resp, _, _) = send(d, req.method, req.params)
        if (check(resp, id, req.expected())) None
        else {
          System.err.println(s"perfbench: probe '$name': ${mismatch(resp, req.expected())}")
          Some("WrongOutput")
        }
      } catch { case NonFatal(e) => Some(e.getClass.getName) })
    }
    val alive = try {
      val Sent(id, _, resp, _, _) = send(d, "tools/call", JObject("name" -> JString("analyze_cluster")))
      check(resp, id, ToolText(Reference.analysis(c)))
    } catch { case NonFatal(_) => false }
    (outcomes, alive)
  }

  // ---------------------------------------------------------------- main

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = workloads.getOrElse(args.getOrElse("workload", ""), {
      System.err.println(s"unknown workload; one of: ${workloads.keys.mkString(", ")}")
      sys.exit(2)
    })
    val seed = args.get("seed").map(_.toLong).getOrElse(1L)
    val seconds = args.get("seconds").map(_.toInt).getOrElse(10)
    val trace = args.get("trace").contains("1")
    val work = args.getOrElse("work", ".bench_build/perfbench")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    // inputs and their reference answers, made before any set-up is timed
    val g0 = System.nanoTime()
    val prep = w.prepare(seed)
    val warmLogs = LogGen.generate(seed + 1, GenSpec(nodes = 2, linesPerNode = 1000), "warm")
    val genS = (System.nanoTime() - g0) / 1e9

    // set-up, timed from JVM start without input generation: session
    // build plus one call of every tool on a small catalog
    val spark = session(work)
    val wd = dispatcher(spark)
    val wc = Reference.Cluster(Nil)
    (loadAll(warmLogs) ++ Seq(analyze("analyze", wc), search(wc, "flushing", false, None),
      errors(wc, None, None), compare(wc, Nil), issues(wc, "all"), resource(wc)))
      .foreach(r => send(wd, r.method, r.params))
    spark.catalog.clearCache()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3 - genS

    // the untraced run measures the end-to-end metrics; the traced run
    // registers the listener and measures the per-layer ones instead
    val listener = if (trace) Some(new SpanListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    System.gc()
    val jitSetup = jitMs
    val p0 = System.nanoTime()
    val measured = runPhase(spark, w, prep.passes(), seconds, listener)
    listener.foreach(_ => org.apache.spark.PerfbenchBus.drain(spark.sparkContext))
    // heap after a full collection, once the cleaner has dropped
    // unpersisted blocks: the lowest of five readings 200 ms apart
    val heapMiB = (1 to 5).map { _ =>
      Thread.sleep(200)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    val p1 = System.nanoTime()
    val (probeOut, alive) = probes(measured.dispatcher, prep.cluster)
    val p2 = System.nanoTime()
    val registry = for (l <- listener; dir <- args.get("registry"))
      yield Registry.run(spark, s"$dir/tables", s"$dir/out", seed, l)
    listener.foreach(spark.sparkContext.removeSparkListener)
    val logs = prep.logs
    spark.stop()

    val ok = measured.ops.filter(o => o.ok && o.counted)
    def p50(kind: String) = median(ok.filter(_.req.kind == kind).map(_.ms).toSeq)
    val (tailMs, tailPct, n) = tail(ok.map(_.ms).toSeq)
    val failures = measured.ops.filterNot(_.ok)
      .groupBy(o => s"${o.req.tool}:${o.error.getOrElse("")}").map { case (k, v) => k -> v.size }
    val kinds = Seq("load", "cold_analyze", "analyze", "search", "errors", "compare", "issues")

    // the per-tool medians stay in `by_op`: mcp_ingest_interleave sends
    // only some of the tools, and mcp_interactive each a few times a run
    val metrics: Seq[(String, Double, String)] = listener match {
      case None => Seq(
        ("setup_s", setupS, "s"),
        ("wall_s", median(measured.passWalls.toSeq), "s"),
        ("op_p50_ms", median(ok.map(_.ms).toSeq), "ms"),
        ("op_tail_ms", tailMs, "ms"),
        ("heap_live_mb", heapMiB, "MiB"),
        ("cold_analyze_p50_ms", p50("cold_analyze"), "ms"))
      case Some(listener) =>
        val ph = measured
        val L = ph.layers
        val spans = ph.spans.toSeq
        val eng = spans.map(s => s -> listener.get(s.group))
        def perOp(f: EngineCounts => Double) = eng.map(x => f(x._2)).sum / math.max(1, eng.size)
        def spanP50(k: String) = median(spans.map(_.layers(k)))
        val loaded = L.count("ingest.lines_loaded")
        Seq(
          ("mcp.frame_ms", spanP50("mcp.frame_ms"), "ms"),
          ("mcp.handle_ms", spanP50("mcp.handle_ms"), "ms"),
          ("mcp.response_bytes", spanP50("mcp.response_bytes"), "bytes"),
          ("ingest.load_ms", L.p50("ingest.load_ms"), "ms"),
          ("ingest.lines_loaded", loaded, "count"),
          ("classify.build_ms", L.p50("classify.build_ms"), "ms"),
          ("classify.builds", L.count("classify.builds"), "count"),
          ("classify.rows_parsed", L.count("classify.rows_parsed"), "count"),
          ("classify.reparse_ratio", L.count("classify.rows_parsed") / math.max(1.0, loaded), "ratio"),
          ("query.plan_ms", L.p50("query.plan_ms"), "ms"),
          ("query.exec_ms", L.p50("query.exec_ms"), "ms"),
          ("query.rows_out", L.p50("query.rows_out"), "count"),
          ("report.self_ms", L.p50("report.self_ms"), "ms"),
          ("spark.jobs", perOp(_.jobs.toDouble), "count"),
          ("spark.stages", perOp(_.stages.toDouble), "count"),
          ("spark.tasks", perOp(_.tasks.toDouble), "count"),
          ("spark.task_s", perOp(_.taskS), "s"),
          ("spark.task_cpu_s", perOp(_.taskCpuS), "s"),
          ("spark.sched_wait_s", perOp(_.schedWaitS), "s"),
          ("spark.idle_frac", eng.map { case (s, c) => c.idleFrac(s.startMs, s.endMs) }.sum /
            math.max(1, eng.size), "ratio"),
          ("spark.shuffle_write_bytes", perOp(_.shuffleWriteBytes.toDouble), "bytes"),
          ("spark.shuffle_read_bytes", perOp(_.shuffleReadBytes.toDouble), "bytes"),
          ("spark.spill_bytes", perOp(_.spillBytes.toDouble), "bytes"),
          ("spark.gc_s", perOp(_.gcS), "s"),
          ("spark.failed_tasks", eng.map(_._2.failedTasks.toDouble).sum, "count"),
          ("jvm.gc_s", ph.gcMs / 1e3, "s"),
          ("jvm.jit_ms", ph.jitMs.toDouble, "ms"),
          ("driver.plan_ms", median(registry.toSeq.flatten.map(_.planMs)), "ms"),
          ("driver.exec_ms", median(registry.toSeq.flatten.map(_.execMs)), "ms"),
          ("driver.eager_jobs", registry.toSeq.flatten.map(_.planJobs.toDouble).sum, "count"),
          ("trace.wall_s", median(ph.passWalls.toSeq), "s"))
    }

    // per-tool attribution, and the full span list, for the traced run
    val byKind = JObject((kinds :+ "resource").map { k =>
      val os = ok.filter(_.req.kind == k)
      val fields = mutable.ArrayBuffer[(String, JValue)]("n" -> JInt(os.size), "p50_ms" -> num(p50(k)))
      listener.foreach { listener =>
        val ph = measured
        val sp = ph.spans.filter(_.op == k).toSeq
        val e = sp.map(s => listener.get(s.group))
        def mean(f: EngineCounts => Double) = num(e.map(f).sum / math.max(1, e.size))
        fields ++= Seq("jobs" -> mean(_.jobs.toDouble), "stages" -> mean(_.stages.toDouble),
          "tasks" -> mean(_.tasks.toDouble), "task_s" -> mean(_.taskS),
          "idle_frac" -> num(sp.zip(e).map { case (s, c) => c.idleFrac(s.startMs, s.endMs) }.sum /
            math.max(1, sp.size)),
          "query_ms" -> num(ph.layers.p50(s"$k.query_ms")))
      }
      k -> JObject(fields.toList)
    }.toList)
    listener.foreach { listener =>
      val ph = measured
      val dir = Paths.get(work, "traces")
      Files.createDirectories(dir)
      val spans = JArray(ph.spans.toList.map { s =>
        val c = listener.get(s.group)
        JObject("group" -> JString(s.group), "op" -> JString(s.op), "start_ms" -> JInt(s.startMs),
          "end_ms" -> JInt(s.endMs), "layers" -> JObject(s.layers.map { case (k, v) => k -> num(v) }.toList),
          "spark" -> JObject("jobs" -> JInt(c.jobs), "stages" -> JInt(c.stages), "tasks" -> JInt(c.tasks),
            "task_s" -> num(c.taskS), "idle_frac" -> num(c.idleFrac(s.startMs, s.endMs))))
      })
      val queries = JObject(registry.toList.flatten.map { t =>
        t.query -> (JObject("plan_ms" -> num(t.planMs), "exec_ms" -> num(t.execMs),
          "plan_jobs" -> JInt(t.planJobs), "exec_jobs" -> JInt(t.execJobs)): JValue)
      })
      Files.writeString(dir.resolve(s"${w.name}-seed$seed.json"), compact(render(
        JObject("workload" -> JString(w.name), "seed" -> JInt(seed), "by_op" -> byKind, "spans" -> spans,
          "registry_logdom" -> queries))))
    }

    val info = JObject(
      "workload" -> JString(w.name), "seed" -> JInt(seed), "trace" -> JBool(trace),
      "inputs" -> JString(w.spec.describe), "mix" -> JString(w.mix),
      "input_lines" -> JInt(logs.map(_.lines).sum), "gen_s" -> num(genS),
      "phase_s" -> num((p1 - p0) / 1e9), "probes_s" -> num((p2 - p1) / 1e9),
      "jit_ms" -> JObject("setup" -> JInt(jitSetup), "phase" -> JInt(measured.jitMs)),
      "input_sha256" -> JString(digest(logs)),
      "issue_counts" -> JObject(prep.cluster.histogram.map { case (k, v) => k -> (JInt(v): JValue) }.toList),
      "pass_walls_s" -> JArray(measured.passWalls.toList.map(num)),
      "op_tail" -> JObject("percentile" -> num(tailPct * 100), "samples" -> JInt(n)),
      "failures" -> JObject(failures.toList.map { case (k, v) => k -> JInt(v) }),
      "probes" -> JObject(probeOut.toList.map { case (k, v) =>
        k -> (v.fold[JValue](JString("ok"))(e => JString(s"failed: $e"))) }),
      "alive_after_probes" -> JBool(alive),
      "by_op" -> byKind)
    println(compact(render(info)))

    val failed = measured.ops.count(!_.ok)
    println(compact(render(JObject(
      "correct" -> JBool(failed == 0 && alive),
      "attempted" -> JInt(measured.ops.size),
      "failed" -> JInt(failed),
      "metrics" -> JObject(metrics.toList.map { case (k, v, u) =>
        k -> JObject("value" -> num(v), "unit" -> JString(u)) })))))
    sys.exit(0)
  }
}
