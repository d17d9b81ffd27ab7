package graft.ingest

import graft.analyze.ClusterAnalyzer
import graft.model.{NodeStats, Schemas}
import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable
import scala.reflect.ClassTag

/** The engine's replacement for the reference's session-global
  * `logs_storage: dict[node_key -> file content]`
  * (`cassandra_log_analyzer.py:336`): an explicit catalog of named raw
  * line DataFrames with per-node analysis state — the reference
  * re-parses every loaded line on every analytical call
  * (`cassandra_log_analyzer.py:745,808,831,847`). Per node key:
  *  - the parse+classify part, cached the first time anything uses it;
  *  - its [[NodeStats]], computed for every node that lacks them in ONE
  *    Spark job ([[stats]]), then answered on the driver.
  * A load replaces (and unpersists) only its own key's state, so the
  * next analysis after loading 1 of k nodes parses 1 node, not k.
  *
  * Key semantics preserved (SURVEY.md §7.4.5):
  *  - SSH-style loads are keyed `{node}_{type}`
  *    (`cassandra_log_analyzer.py:661,671`); manual/inline loads use the
  *    BARE node name — `log_type` is accepted but ignored in the key
  *    (`:729`);
  *  - `split('\n')` keeps a trailing empty line, which counts in
  *    `total_lines` (`:231,:730,:262`) — we split with limit -1;
  *  - node iteration order = insertion order (LinkedHashMap); a reload
  *    keeps the key's position, like a Python dict assignment.
  *
  * `maxLoadChars` bounds one load's content (default
  * [[LogCatalog.defaultMaxLoadChars]]): a larger one throws
  * [[LogCatalog.LoadTooLarge]] before any line is split, leaving the
  * catalog as it was.
  */
final class LogCatalog(val spark: SparkSession,
                       maxLoadChars: Long = LogCatalog.defaultMaxLoadChars) {

  /** One node key's raw lines and the state derived from them. */
  private final class Node(val raw: DataFrame) {
    var classified: Option[DataFrame] = None
    var stats: Option[NodeStats] = None
  }

  private val storage = mutable.LinkedHashMap.empty[String, Node]

  /** Replaces `key`'s raw part with `content`'s lines. No job runs: the
    * part is a [[LogCatalog.SliceRDD]] over a few line-aligned slices of
    * the content string, split into rows by the task that reads them.
    */
  private def putContent(key: String, content: String): (Long, Int) = {
    checkSize(content)
    val (lines, slices) = LogCatalog.slices(content, spark.sparkContext.defaultParallelism)
    unions.clear()
    storage.get(key).foreach(_.classified.foreach(_.unpersist()))
    storage(key) = new Node(spark.createDataFrame(
      new LogCatalog.SliceRDD(spark.sparkContext, key, slices), Schemas.rawLine))
    (lines, storage.size)
  }

  private def checkSize(content: String): Unit =
    if (content.length > maxLoadChars) throw new LogCatalog.LoadTooLarge(content.length, maxLoadChars)

  private def emptyRaw: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.rawLine)

  /** `load_logs` (`cassandra_log_analyzer.py:724-736`): inline content
    * under the BARE node name. Returns (line count incl. trailing empty,
    * total node keys) — the tool's reported numbers.
    */
  def loadInline(nodeName: String, content: String): (Long, Int) =
    loadContent(nodeName, content)

  /** Load raw content under an EXPLICIT node key — the landing point
    * for [[RemoteFetcher]] fetches (SSH-style `{node}_{type}` keys,
    * `cassandra_log_analyzer.py:661,671`). Same `split('\n', -1)`
    * parity as [[loadInline]].
    */
  def loadContent(nodeKey: String, content: String): (Long, Int) = synchronized {
    putContent(nodeKey, content)
  }

  /** Node keys in insertion order (= reference dict order). */
  def nodeKeys: Seq[String] = synchronized(storage.keys.toSeq)

  def isEmpty: Boolean = synchronized(storage.isEmpty)

  /** Distinct BASE node count — `len(set(k.rsplit('_',1)[0] ...))`
    * (`cassandra_log_analyzer.py:678`).
    */
  def distinctBaseNodes: Long = synchronized {
    storage.keys.map(k => k.lastIndexOf('_') match {
      case -1 => k
      case i => k.substring(0, i)
    }).toSet.size.toLong
  }

  /** UNION ALL of every node's raw lines (SURVEY.md §2.7 U1). */
  def raw: DataFrame = synchronized {
    require(storage.nonEmpty, "no logs loaded — use loadInline/loadContent first")
    storage.values.map(_.raw).reduce(_.unionByName(_))
  }

  /** UNION ALL of the cached parse+classify parts of `keys` (unknown
    * keys skipped; none left yields an empty classified relation). The
    * union itself is never cached — its parts are. It is kept, with its
    * [[linesOf]] projection, per set of known keys until the next load:
    * analysing a union of k parts costs each call tens of milliseconds
    * of driver time, and planning a scan of it, with its generated code,
    * costs more.
    */
  def classifiedOf(keys: Seq[String]): DataFrame = synchronized(unionOf(keys).classified)

  /** [[classifiedOf]] projected to `(node, line_number, value)`, kept
    * with that union: its scan, and the code generated for it, are
    * planned once per set of known keys (`queryExecution.toRdd` is
    * computed once per DataFrame), so a [[LogCatalog.foldPerCore]]
    * over it plans and compiles nothing.
    */
  def linesOf(keys: Seq[String]): DataFrame = synchronized(unionOf(keys).lines)

  private final class Union(val classified: DataFrame) {
    lazy val lines: DataFrame = classified.select("node", "line_number", "value")
  }

  /** [[classifiedOf]]'s unions and [[linesOf]]'s scans, by known keys; every load clears it. */
  private val unions = mutable.HashMap.empty[Seq[String], Union]

  private def unionOf(keys: Seq[String]): Union = {
    val known = keys.filter(storage.contains)
    unions.getOrElseUpdate(known, new Union(known.map(storage).map { n =>
      n.classified.getOrElse {
        val df = ClusterAnalyzer.classify(n.raw).cache()
        n.classified = Some(df)
        df
      }
    }.reduceOption(_.unionByName(_)).getOrElse(ClusterAnalyzer.classify(emptyRaw))))
  }

  /** The parse+classify relation of every node. */
  def classified: DataFrame = classifiedOf(nodeKeys)

  /** Per-node stats in insertion order. Those of every node that lacks
    * them come from ONE Spark job with no shuffle: a [[LogCatalog.foldPerCore]]
    * of [[LogCatalog.countRows]] over those nodes' classified parts,
    * which builds the parts' cache in the same job. A node whose
    * relation has no rows is absent, as in the reference's summary.
    */
  def stats: Seq[(String, NodeStats)] = synchronized {
    val missing = storage.collect { case (k, n) if n.stats.isEmpty => k }.toSeq
    if (missing.nonEmpty) {
      val counts = LogCatalog.foldPerCore(
          classifiedOf(missing).select("node", "is_error", "is_warning", "issues"))(LogCatalog.countRows)
        .flatten.groupMapReduce(_._1)(_._2)((a, b) => a.zip(b).map { case (x, y) => x + y })
      missing.foreach { k =>
        val c = counts.getOrElse(k, new Array[Long](3 + ClusterAnalyzer.issueTypes.size))
        storage(k).stats = Some(NodeStats(c(0), c(1), c(2), c.drop(3).toIndexedSeq))
      }
    }
    storage.toSeq.collect { case (k, n) if n.stats.exists(_.totalLines > 0) => k -> n.stats.get }
  }
}

object LogCatalog {

  /** `fold` of each task's rows of `df`, collected: one Spark job whose
    * scan is coalesced to a task per core. Every task of a job over the
    * union of k classified parts deserializes the lineage of all k, so
    * a task per core, each folding several partitions, pays that once
    * per core. The rows are Spark's internal rows, valid until the next
    * row is read.
    */
  private[graft] def foldPerCore[T: ClassTag](df: DataFrame)(fold: Iterator[InternalRow] => T): Array[T] = {
    val scan = df.queryExecution.toRdd
    scan.coalesce(math.max(1, math.min(scan.getNumPartitions, df.sparkSession.sparkContext.defaultParallelism)))
      .mapPartitions(rows => Iterator(fold(rows))).collect()
  }

  /** [[LogCatalog.stats]]' fold over `(node, is_error, is_warning,
    * issues)` rows: per node, the longs `errors, warnings, total_lines`
    * and then one count per [[ClusterAnalyzer.issueTypes]] entry, the
    * columns of [[ClusterAnalyzer.nodeStats]]. A partition is one
    * node's line range, so rows come in runs of one node.
    */
  private def countRows(rows: Iterator[InternalRow]): Map[String, Array[Long]] = {
    val types = ClusterAnalyzer.issueTypes.map(UTF8String.fromString).toArray
    val byNode = mutable.HashMap.empty[String, Array[Long]]
    var node: UTF8String = null
    var c: Array[Long] = null
    rows.foreach { r =>
      if (node == null || node != r.getUTF8String(0)) {
        node = r.getUTF8String(0).clone()
        c = byNode.getOrElseUpdate(node.toString, new Array[Long](3 + types.length))
      }
      if (r.getBoolean(1)) c(0) += 1
      if (r.getBoolean(2)) c(1) += 1
      c(2) += 1
      val issues = r.getArray(3)
      var i = 0
      while (i < issues.numElements) {
        c(3 + types.indexOf(issues.getStruct(i, 2).getUTF8String(1))) += 1
        i += 1
      }
    }
    byNode.toMap
  }

  /** A load's character bound on this JVM: a sixteenth of the maximum
    * heap. Loading n characters holds the request line, the content
    * string and its split lines and rows at once, a few times 2n bytes
    * as UTF-16, so one load stays well below half the heap.
    */
  def defaultMaxLoadChars: Long = Runtime.getRuntime.maxMemory / 16

  /** `content`'s line count under Python's `split('\n')` (a trailing
    * newline ends in one more, empty, line) and at most `n` slices of
    * it: `(first line number, text)`, cut at newlines into runs of
    * equal line counts, so that `text.split("\n", -1)` is exactly the
    * run's lines. Every slice shares `content`'s parity: the lines of
    * all slices, in order, are `content.split("\n", -1)`.
    */
  private[graft] def slices(content: String, n: Int): (Long, Seq[(Long, String)]) = {
    val newlines = Array.newBuilder[Int]
    var at = content.indexOf('\n')
    while (at >= 0) { newlines += at; at = content.indexOf('\n', at + 1) }
    val nl = newlines.result()
    val lines = nl.length + 1
    val k = math.min(n, lines)
    // line i starts after newline i-1 and ends at newline i (or the end)
    def start(i: Int) = if (i == 0) 0 else nl(i - 1) + 1
    def end(i: Int) = if (i == nl.length) content.length else nl(i)
    val cuts = (0 to k).map(j => (j.toLong * lines / k).toInt)
    (lines.toLong, cuts.zip(cuts.tail).map { case (a, b) =>
      (a + 1L, content.substring(start(a), end(b - 1)))
    })
  }

  /** One node key's raw lines over [[slices]]: one partition per slice,
    * split into `(node, line_number, value)` rows in line order by the
    * task that reads it. A slice ships as one string, where a
    * parallelized row collection would ship (and serialize) one object
    * graph per line with every task that reads the part. An RDD of its
    * own, not `parallelize(...).flatMap`, because a load then runs no
    * closure cleaning: a load is on the request path.
    */
  private final class SliceRDD(sc: SparkContext, key: String, @transient slices: Seq[(Long, String)])
      extends RDD[Row](sc, Nil) {
    override protected def getPartitions: Array[Partition] =
      slices.zipWithIndex.map { case ((first, text), i) => new Slice(i, first, text): Partition }.toArray

    override def compute(split: Partition, context: TaskContext): Iterator[Row] = {
      val s = split.asInstanceOf[Slice]
      s.text.split("\n", -1).iterator.zipWithIndex.map { case (l, i) => Row(key, s.first + i, l) }
    }
  }

  private final class Slice(val index: Int, val first: Long, val text: String) extends Partition

  /** A load whose content exceeds the catalog's bound; nothing was loaded. */
  final class LoadTooLarge(val chars: Long, val max: Long)
      extends IllegalArgumentException(s"contenu trop volumineux: $chars caractères (maximum $max)")
}
