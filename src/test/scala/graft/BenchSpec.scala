package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** The bench's report lines: failures are counted and named, never summed,
  * and the summary fits the ~2.4 KB stdout tail a bench run's record keeps.
  */
class BenchSpec extends AnyFunSuite {

  test("a failed query is named with its exception class and left out of every sum") {
    // 333 queries with registry-length names, the first 40 failing
    val names = (1 to 333).map(i => f"q$i%03d_a_long_registry_query_name")
    val results = names.zipWithIndex.map { case (n, i) =>
      n -> (if (i < 40) Left("org.apache.spark.sql.AnalysisException") else Right(0.5 + i / 1000.0))
    }
    val families = Map("rel" -> names.take(200).toSet, "sim" -> names.drop(200).toSet)
    val (line, summary) = Bench.report(results, families, "/data/sf0.1",
      Seq(100.0, 101.5, 99.25), "bench_queries_c4.json")
    val full = parse(line)
    val okSum = results.collect { case (_, Right(v)) => v }.sum
    val JDouble(total) = full \ "value": @unchecked
    assert(math.abs(total - okSum) < 1e-6)
    assert((full \ "queries" \ names.head) === JNothing)
    assert((full \ "failed" \ names.head) === JString("org.apache.spark.sql.AnalysisException"))
    val JObject(allFailed) = full \ "failed": @unchecked
    assert(allFailed.size === 40)

    assert(summary.length < 2400, s"summary is ${summary.length} bytes")
    val sum = parse(summary)
    assert(sum \ "metric" === JString("total_summary"))
    assert(sum \ "value" === full \ "value")
    assert(sum \ "n_queries" === JInt(333))
    assert(sum \ "n_failed" === JInt(40))
    val JObject(named) = sum \ "failed": @unchecked
    assert(named.map(_._1) === names.take(Bench.summaryFailures))
    val JDouble(rel) = sum \ "families" \ "rel": @unchecked
    assert(math.abs(rel - results.slice(40, 200).collect { case (_, Right(v)) => v }.sum) < 1e-2)
  }
}
