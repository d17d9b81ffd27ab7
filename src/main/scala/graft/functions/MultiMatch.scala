package graft.functions

import graft.classify.IssueClassifier
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

import java.util.regex.Pattern

/** Single-pass multi-pattern matcher: evaluates N regexes against one
  * string and returns a BITMASK of which matched (bit i = pattern i).
  *
  * Why a custom Catalyst `Expression` (SURVEY.md §2.9): the built-in
  * formulation (`array_compact(array(when(rlike p1)...))`) evaluates 14
  * independent `RLike` expressions — 14 traversals of the message and 14
  * branch structures in generated code. This expression makes ONE pass
  * over the pattern set with the compiled `Pattern[]` shared via a
  * codegen reference object, and returns a primitive long — no array
  * allocation on the hot path. Downstream shaping (mask → issue structs,
  * `ClusterAnalyzer.classify`) stays in built-in expressions, so only
  * the scalar inner loop is custom.
  *
  * `doGenCode` emits a plain Java loop — the expression participates in
  * whole-stage codegen rather than falling back to interpreted eval.
  */
case class MultiMatch(child: Expression, patterns: Seq[String])
    extends UnaryExpression {

  require(patterns.nonEmpty && patterns.size <= 63,
    "MultiMatch supports 1..63 patterns (long bitmask)")

  override def dataType: DataType = LongType

  override def prettyName: String = "multi_match"

  @transient private lazy val compiled: Array[Pattern] =
    patterns.map(Pattern.compile).toArray

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    var mask = 0L
    var i = 0
    while (i < compiled.length) {
      if (compiled(i).matcher(s).find()) mask |= (1L << i)
      i += 1
    }
    mask
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // compiled patterns live once per task as a reference object
    val pats = ctx.addReferenceObj("multiMatchPatterns", compiled,
      "java.util.regex.Pattern[]")
    // freshName every local — two MultiMatch instances fused into one
    // codegen scope would otherwise collide on s/mask/i (Janino
    // "Redefinition of local variable")
    val s = ctx.freshName("mmStr")
    val mask = ctx.freshName("mmMask")
    val i = ctx.freshName("mmIdx")
    nullSafeCodeGen(ctx, ev, input => {
      s"""
         |java.lang.String $s = $input.toString();
         |long $mask = 0L;
         |for (int $i = 0; $i < ${patterns.size}; $i++) {
         |  if ($pats[$i].matcher($s).find()) $mask |= (1L << $i);
         |}
         |${ev.value} = $mask;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MultiMatch =
    copy(child = newChild)
}

object MultiMatch {

  /** Column API: bitmask of the 14 reference issue patterns. */
  def issueMask(message: Column): Column =
    ColumnBridge.column(MultiMatch(ColumnBridge.expression(message),
      IssueClassifier.allPatterns.map(_._3)))
}
