package graft.tools

import scala.util.Try

import graft.{GraftSession, SparkEntry, Verify}
import graft.util.SparkWork
import org.apache.spark.sql.SparkSession

/** Per-query profile of registry queries (not part of the driver
  * contract; run while optimizing).
  *
  * Usage: `Profile <sfDir> <prefix,...> [key=value ...] [--plan | --summary]`
  *  - Queries are selected by name prefix, as `graft.Verify` selects
  *    them: `q1` also matches q10..., so write `q1_` for one query.
  *  - Each `key=value` is a SQL conf set for the run and restored after
  *    it. `spark.sql.adaptive.enabled=false` shows static plans, where
  *    exchange and subquery reuse is visible.
  *  - By default each query runs once warm (codegen, staging) and once
  *    measured, its cache cleared after each pass; the measured pass
  *    prints its [[SparkWork]]. The job count is what matters for the
  *    eager gates (lake maintenance, streaming `foreachBatch`): their
  *    work is many small driver-issued jobs that no plan shows.
  *  - `--plan` prints each query's formatted physical plan instead.
  *  - `--summary` prints one line of operator counts per query instead,
  *    skipping the [[eager]] gates.
  */
object Profile {

  /** Queries whose frame is built by running Spark jobs, so their plan
    * covers only the final rollup: the streaming gates return a
    * collected relation (their incremental plans live in StreamingSpec),
    * q64 and q150 label components in a loop of `count()`s, and q80
    * runs under its own pinned bloom confs.
    */
  private def eager: Set[String] = SparkEntry.families("stream") ++
    Set("q64_dedup_clusters", "q150_keep_best", "q80_bloom_join")

  private def selected(prefixes: Seq[String]): Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.filter(Verify.selected(Some(prefixes), _))

  /** The measured pass of each selected query under `confs`, or what it threw. */
  def run(spark: SparkSession, sfDir: String, prefixes: Seq[String],
      confs: Seq[(String, String)] = Nil): Seq[(String, Try[SparkWork])] =
    GraftSession.withConf(spark, confs: _*) {
      selected(prefixes).map { name =>
        def pass() = try SparkWork.of(spark) {
          SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
        }._2 finally spark.catalog.clearCache()
        name -> Try(pass()).flatMap(_ => Try(pass()))
      }
    }

  /** A plan's operator counts on one line: joins by strategy,
    * broadcasts, shuffles (`EXCH`, not broadcasts), windows (`WIN`, not
    * the WindowGroupLimit pushdown nodes) and top-k-per-group nodes.
    */
  private def summary(plan: String): String = {
    def n(op: String) = op.r.findAllIn(plan).size
    s"BHJ=${n("BroadcastHashJoin")} SMJ=${n("SortMergeJoin")} " +
      s"SHJ=${n("ShuffledHashJoin")} BNLJ=${n("BroadcastNestedLoopJoin")} " +
      s"CART=${n("CartesianProduct")} BCAST=${n("BroadcastExchange")} " +
      s"EXCH=${n("(?<!Broadcast)Exchange ")} WIN=${n("Window(?!GroupLimit)")} " +
      s"TOPK=${n("TopKPerGroup")}"
  }

  def main(args: Array[String]): Unit = {
    val (flags, rest) = args.partition(_.startsWith("--"))
    val (kvs, positional) = rest.partition(_.contains("="))
    require(positional.length == 2 && flags.length <= 1 &&
      flags.forall(f => f == "--plan" || f == "--summary"),
      "usage: Profile <sfDir> <prefix,...> [key=value ...] [--plan | --summary]")
    val Array(sfDir, prefixList) = positional
    val prefixes = prefixList.split(',').map(_.trim).toSeq
    val confs = kvs.toSeq.map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val spark = GraftSession.getOrCreate("graft-profile")
    spark.sparkContext.setLogLevel("ERROR")
    def frame(q: String) = SparkEntry.queries(q)(spark, sfDir)
    flags.headOption match {
      case Some("--plan") => GraftSession.withConf(spark, confs: _*) {
        selected(prefixes).foreach { q =>
          println(s"\n===================== $q =====================")
          frame(q).explain("formatted")
        }
      }
      case Some(_) => GraftSession.withConf(spark, confs: _*) {
        selected(prefixes).filterNot(eager).foreach { q =>
          println(f"$q%-24s ${summary(frame(q).queryExecution.executedPlan.toString)}")
        }
      }
      case None => run(spark, sfDir, prefixes, confs).foreach {
        case (q, scala.util.Success(w)) =>
          println(f"[profile] $q%-32s wall=${w.wallSeconds}%7.2fs jobs=${w.jobs}%4d " +
            f"stages=${w.stages}%4d taskSec=${w.taskSeconds}%8.2f shuffleBytes=${w.shuffleBytes}%d")
        case (q, scala.util.Failure(e)) =>
          println(s"[profile] $q failed: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
