package graft

import graft.analyze.ClusterAnalyzer
import graft.ingest.LogCatalog
import graft.model.NodeStats
import graft.report.Reports
import org.scalacheck.{Gen, rng}

/** The catalog's per-node state (cached classified parts, per-node stats,
  * replaced one key at a time) must answer exactly like a full recompute.
  * Seeded sequences of loads over 3–4 tiny nodes, reloads included;
  * after every load the stats-backed outputs are compared byte for byte
  * with a fresh catalog of the same final contents and with the
  * DataFrame forms over `classify(catalog.raw)`, and each node's stats
  * row with `nodeStats`' row for it.
  */
class IncrementalCatalogSpec extends SparkSuite {

  private val seed = rng.Seed(20261017L)

  private def ts(i: Int) = f"2026-05-14 10:00:$i%02d,000"

  // every line hits several patterns so the five threshold rules can
  // cross with a few dozen lines in total
  private val lineGen: Gen[String] = for {
    i <- Gen.choose(0, 59)
    l <- Gen.oneOf(
      s"ERROR [${ts(i)}] [RS-1] o.a.c.Read:1 - Read timed out; dropped 4 messages",
      s"INFO  [${ts(i)}] [GC-1] o.a.c.GCInspector:2 - GC pause exceeded, tombstone warning exceeded",
      s"ERROR [${ts(i)}] [M-1] o.a.c.Mutation:3 - java.lang.OutOfMemoryError: heap",
      s"WARN  [${ts(i)}] [G-1] o.a.c.Heap:4 - heap pressure warning, slow query",
      s"INFO  [${ts(i)}] [C-1] o.a.c.Coord:5 - coordinator timeout, dropped messages",
      s"INFO  [${ts(i)}] [main] o.a.c.Service:6 - all good",
      "java.lang.RuntimeException: boom",
      "\tat org.apache.cassandra.Foo.bar(Foo.java:1)",
      "")
  } yield l

  private val nodeNames = Seq("n1", "n2_system", "a", "zz")

  /** A sequence of (node, content) loads; a name can repeat (reload). */
  private val loadsGen: Gen[List[(String, String)]] = for {
    names <- Gen.choose(3, 4).map(nodeNames.take)
    n <- Gen.choose(4, 6)
    loads <- Gen.listOfN(n, for {
      node <- Gen.oneOf(names)
      k <- Gen.choose(0, 10)
      lines <- Gen.listOfN(k, lineGen)
      trailing <- Gen.oneOf("", "\n")
    } yield node -> (lines.mkString("\n") + trailing))
  } yield loads

  /** Every stats-backed output of a catalog, keyed by call. */
  private def outputs(c: LogCatalog): Seq[(String, String)] = {
    val keys = c.nodeKeys
    val firstErrs = c.stats.filter(_._2.errors > 0).sortBy(_._1).headOption
      .fold(0L)(_._2.errors).toInt
    val limits = Seq(0, 1, firstErrs, firstErrs + 1, 50).distinct
    Seq("analysis" -> Reports.renderAnalysis(c), "json" -> Reports.analysisJson(c)) ++
      Seq("all", "critical", "high", "medium").map(s => s"issues/$s" -> Reports.renderIssues(c, s)) ++
      Seq(Seq.empty, keys.reverse :+ "ghost", keys.take(1) ++ keys ++ keys.take(1))
        .map(ns => s"compare/${ns.mkString(",")}" -> Reports.renderCompare(c, ns)) ++
      (None +: (keys :+ "ghost").map(Some(_))).flatMap(f => limits.map(n =>
        s"errors/$f/$n" -> Reports.renderErrors(c, f, n)))
  }

  /** The analysis and error reports rendered from the DataFrame forms. */
  private def dataFrameForms(c: LogCatalog): Seq[(String, String)] = {
    val cls = ClusterAnalyzer.classify(c.raw)
    val summary = ClusterAnalyzer.summary(cls).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val hist = ClusterAnalyzer.issueHistogram(cls).collect().map(r => r.getString(0) -> r.getLong(1))
    val recs = ClusterAnalyzer.recommendationsPlan(spark, ClusterAnalyzer.issueHistogram(cls))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val emoji = Map("CRITICAL" -> "CRITIQUE", "HIGH" -> "IMPORTANT").withDefaultValue("ATTENTION")
    val sb = new StringBuilder("# Analyse du Cluster Cassandra\n\n## Résumé par Node\n")
    c.nodeKeys.flatMap(k => summary.get(k).map(k -> _)).foreach { case (k, (e, w, t)) =>
      sb ++= s"\n### $k\n- Erreurs: $e\n- Warnings: $w\n- Total lignes: $t\n"
    }
    sb ++= "\n## Problèmes Détectés\n"
    hist.foreach { case (t, n) => sb ++= s"- $t: $n occurrences\n" }
    if (recs.nonEmpty) {
      sb ++= "\n## Recommandations\n"
      recs.foreach { case (s, i, r) => sb ++= s"\n${emoji(s)} **$i** ($s)\n→ $r\n" }
    }
    val errs = ClusterAnalyzer.errorsByNode(cls).collect()
    def errors(f: Option[String], n: Int): String = {
      val rows = errs.filter(r => f.forall(_ == r.getString(0))).take(n)
      rows.map(r => s"**${r.getString(0)}** [${r.getString(2)}]\n```\n${r.getString(6)}\n```\n\n")
        .mkString(s"# Erreurs (${rows.length})\n\n", "", "")
    }
    val keys = c.nodeKeys
    val firstErrs = summary.toSeq.filter(_._2._1 > 0).sortBy(_._1).headOption.fold(0L)(_._2._1).toInt
    ("analysis" -> sb.result()) +:
      (None +: (keys :+ "ghost").map(Some(_))).flatMap(f =>
        Seq(0, 1, firstErrs, firstErrs + 1, 50).distinct.map(n => s"errors/$f/$n" -> errors(f, n)))
  }

  private def release(c: LogCatalog): Unit =
    c.nodeKeys.foreach(k => c.classifiedOf(Seq(k)).unpersist(blocking = true))

  test("incremental per-node state equals a full recompute after every load") {
    val runs = Gen.listOfN(3, loadsGen).apply(Gen.Parameters.default, seed)
      .getOrElse(sys.error("generator failed"))
    assert(runs.exists(r => r.map(_._1).distinct.size < r.size), "no run reloads a key")
    runs.foreach { loads =>
      val inc = new LogCatalog(spark)
      val contents = scala.collection.mutable.LinkedHashMap.empty[String, String]
      loads.foreach { case (node, content) =>
        inc.loadInline(node, content)
        contents(node) = content
        val fresh = new LogCatalog(spark)
        contents.foreach { case (n, t) => fresh.loadInline(n, t) }
        val got = outputs(inc)
        assert(got == outputs(fresh), s"after loading $node")
        val byCall = got.toMap
        dataFrameForms(fresh).foreach { case (call, want) =>
          assert(byCall(call) == want, s"$call after loading $node")
        }
        // each node's 17 counts are the DataFrame aggregate's, row for row
        val perNode = ClusterAnalyzer.nodeStats(ClusterAnalyzer.classify(inc.raw)).collect().map { r =>
          assert(r.length == 4 + ClusterAnalyzer.issueTypes.size)
          r.getString(0) -> NodeStats(r.getLong(1), r.getLong(2), r.getLong(3), (4 until r.length).map(r.getLong))
        }.toMap
        assert(inc.stats == inc.nodeKeys.flatMap(k => perNode.get(k).map(k -> _)), s"after loading $node")
        // per-type counts summed over nodes are the explode histogram
        val hist = ClusterAnalyzer.issueHistogram(ClusterAnalyzer.classify(inc.raw))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
        assert(ClusterAnalyzer.histogram(inc.stats.map(_._2)) == hist)
        release(fresh)
      }
      release(inc)
    }
  }
}
