package graft.plans

import graft.classify.IssueClassifier
import graft.functions.MultiMatch
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.unsafe.types.UTF8String

/** Session extension wiring (`spark.sql.extensions=graft.plans.GraftExtensions`,
  * or `withExtensions(new GraftExtensions)` as [[graft.GraftSession]] does):
  * registers the engine's custom expressions with the SQL function
  * registry so plain `spark.sql` queries can use them.
  *
  *  - `multi_match(str, p1, p2, ...)` → long bitmask of which of the
  *    literal regex patterns match `str` (bit i = pattern i+1 arg);
  *  - `issue_mask(str)` → the 14-pattern Cassandra issue bitmask with
  *    the reference's pattern order baked in;
  *  - [[CollapseRLikeOrChains]] optimizer rule: >= 4 `rlike` ORs over
  *    one input collapse into a single `multi_match` pass;
  *  - [[TopKStrategy]] planner strategy: plans the [[TopKPerGroup]]
  *    logical operator as a two-phase bounded-heap physical exec.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def literalString(e: Expression, fn: String): String = {
    require(e.foldable, s"$fn pattern arguments must be literals")
    e.eval() match {
      case null => throw new IllegalArgumentException(
        s"$fn patterns must be non-null string literals")
      case s: UTF8String => s.toString
      case other => other.toString
    }
  }

  /** A sketch aggregate's integer `k` argument. */
  private def intLiteral(e: Expression, fn: String): Int = {
    require(e.foldable, s"$fn k must be a literal")
    e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other => throw new IllegalArgumentException(
        s"$fn k must be an integer literal, got $other")
    }
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => CollapseRLikeOrChains)
    ext.injectPlannerStrategy(_ => TopKStrategy)
    ext.injectFunction((
      new FunctionIdentifier("multi_match"),
      new ExpressionInfo(classOf[MultiMatch].getName, "multi_match"),
      (exprs: Seq[Expression]) => {
        require(exprs.size >= 2, "multi_match(str, pattern, ...)")
        MultiMatch(exprs.head,
          exprs.tail.map(literalString(_, "multi_match")))
      }))
    ext.injectFunction((
      new FunctionIdentifier("issue_mask"),
      new ExpressionInfo(classOf[MultiMatch].getName, "issue_mask"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 1, "issue_mask(str)")
        MultiMatch(exprs.head, IssueClassifier.allPatterns.map(_._3))
      }))
    // `nfc_normalize(str)` — Unicode canonical composition (UAX #15),
    // named for parity with DuckDB's function so SQL screens port
    // verbatim. Spark has no normalization builtin; the custom
    // Expression keeps the screen inside whole-stage codegen.
    ext.injectFunction((
      new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[graft.functions.NfcNormalize].getName,
        "nfc_normalize"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 1, "nfc_normalize(str)")
        graft.functions.NfcNormalize(exprs.head)
      }))
    // the custom AGGREGATE: `k_min_values(expr, k)` — KMV distinct
    // sketch (k smallest distinct hashes, O(k) state). The registry
    // builder returns the aggregate FUNCTION; the analyzer wraps it
    // into an AggregateExpression itself.
    ext.injectFunction((
      new FunctionIdentifier("k_min_values"),
      new ExpressionInfo(classOf[graft.functions.KMinValues].getName,
        "k_min_values"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 2, "k_min_values(expr, k)")
        val k = intLiteral(exprs(1), "k_min_values")
        // integral inputs cast up to BIGINT here (the aggregate itself
        // requires LongType so non-numeric inputs still fail analysis)
        import org.apache.spark.sql.types._
        val child = exprs.head.dataType match {
          case LongType => exprs.head
          case ByteType | ShortType | IntegerType =>
            org.apache.spark.sql.catalyst.expressions.Cast(exprs.head, LongType)
          case _ => exprs.head // let checkInputDataTypes report it
        }
        graft.functions.KMinValues(child, k)
      }))
    // `misra_gries(expr, k)` — heavy-hitters counter summary (at most
    // k tracked items; est ≤ true, undercount ≤ n/(k+1) for any merge
    // tree). Same analyzer contract as k_min_values.
    ext.injectFunction((
      new FunctionIdentifier("misra_gries"),
      new ExpressionInfo(classOf[graft.functions.MisraGries].getName,
        "misra_gries"),
      (exprs: Seq[Expression]) => {
        require(exprs.size == 2, "misra_gries(expr, k)")
        val k = intLiteral(exprs(1), "misra_gries")
        graft.functions.MisraGries(exprs.head, k)
      }))
  }
}
