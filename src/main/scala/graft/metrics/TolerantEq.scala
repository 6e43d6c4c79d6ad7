package graft.metrics

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass evaluator behind [[TolerantEqualsExpr]]: the reference's
  * tolerant-equality predicate (`utils/utils.py:20-35,49-61,104-107`) as one
  * JVM function — normalize, one regex scan per side with a precompiled
  * pattern, pairwise tolerance. Semantics identical to the expression-tree
  * form in [[Metrics.tolerantEqualsColumns]] (cross-checked in MetricsSpec).
  */
object TolerantEq {
  // Reference regex (`utils/utils.py:49`); findall group-1 semantics drop the
  // sign, and the first alternation branch consumes fraction numerators so
  // the "/" branch never fires (SURVEY §2.7 F4 quirk) — both reproduced.
  private val NumPattern: Pattern =
    Pattern.compile("[-+]?([0-9]*\\.?[0-9]+|[0-9]+/[0-9]+)")

  def extract(s: String): Array[Double] = {
    val m = NumPattern.matcher(s)
    val out = new scala.collection.mutable.ArrayBuffer[Double](4)
    while (m.find()) {
      val g = m.group(1)
      val slash = g.indexOf('/')
      out += (if (slash >= 0)
        g.substring(0, slash).toDouble / g.substring(slash + 1).toDouble
      else g.toDouble)
    }
    out.toArray
  }

  /** Null-tolerant (null → ""), called from codegen and interpreted eval. */
  def eval(l: UTF8String, r: UTF8String, tol: Double,
      truncating: Boolean): Boolean =
    eval(if (l == null) null else l.toString,
      if (r == null) null else r.toString, tol, truncating)

  /** The same predicate over JVM strings: the driver-side validation of
    * candidate programs on demo rows uses it without a Spark job.
    */
  def eval(l: String, r: String, tol: Double, truncating: Boolean): Boolean = {
    val p = (if (l == null) "" else l).trim.toLowerCase
    val g = (if (r == null) "" else r).trim.toLowerCase
    if (p == g) return true
    val np = extract(p)
    val ng = extract(g)
    if (np.isEmpty || ng.isEmpty) return false
    if (!truncating && np.length != ng.length) return false
    val n = math.min(np.length, ng.length)
    var i = 0
    while (i < n) {
      if (math.abs(np(i) - ng(i)) > tol) return false
      i += 1
    }
    true
  }
}

/** Native codegen'd tolerant-equality (F4). The composed built-in form
  * (regexp_extract_all → transform → slice → zip_with → forall) evaluates its
  * higher-order lambdas interpreted and re-scans the regex arrays several
  * times per row (~14 s for 600k rows at sf0.1); this expression stays inside
  * whole-stage codegen and does one regex pass per side (~20× faster).
  * Null inputs normalize to "" (reference: None → "", `utils/utils.py:91-94`),
  * so the expression itself is non-nullable.
  */
case class TolerantEqualsExpr(
    left: Expression,
    right: Expression,
    tol: Double,
    truncating: Boolean)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"tolerant_equals expects (string, string), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val l = left.eval(input).asInstanceOf[UTF8String]
    val r = right.eval(input).asInstanceOf[UTF8String]
    TolerantEq.eval(l, r, tol, truncating)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val leftGen = left.genCode(ctx)
    val rightGen = right.genCode(ctx)
    val helper = "graft.metrics.TolerantEq$.MODULE$"
    val lVal = ctx.freshName("tolL")
    val rVal = ctx.freshName("tolR")
    val resultCode =
      code"""
        ${leftGen.code}
        ${rightGen.code}
        UTF8String $lVal = ${leftGen.isNull} ? null : ${leftGen.value};
        UTF8String $rVal = ${rightGen.isNull} ? null : ${rightGen.value};
        boolean ${ev.value} = $helper.eval($lVal, $rVal, $tol, $truncating);
      """
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
