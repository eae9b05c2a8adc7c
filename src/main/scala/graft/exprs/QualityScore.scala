package graft.exprs

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `quality_score(text)` — the t14 fastText-shaped linear quality
  * classifier as one native codegen'd expression: sigmoid over the
  * mean hash-derived token weight,
  * round(1/(1+exp(-4·Σw/n)), 4) with w(t) = (md5_60(t) mod 2049 −
  * 1024)/1024.
  *
  * Replaces the transform/aggregate HOF chain (CodegenFallback, one
  * lambda frame per token per row) on the model-gate path FIVE
  * operators ride (t14, sel01, p03, p04, st05's streaming gate).
  * Value-identical to the chain it replaces, which the DuckDB oracles
  * pin: tokens are `split(text, ' ', -1)` (consecutive/trailing
  * spaces yield empty tokens that hash like any string — divergence
  * here would silently shift every score), weights are exactly
  * representable m/1024 rationals summed in strict token order, and
  * the round is Spark's own HALF_UP. Null in → null out. Pure map at
  * scan speed.
  */
case class QualityScore(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"quality_score requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "quality_score"

  protected override def nullSafeEval(input: Any): Any =
    QualityScore.compute(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.exprs.QualityScore.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): QualityScore =
    copy(child = newChild)
}

object QualityScore {

  /** Static kernel shared by interpreted eval and generated code.
    * Token split matches Spark's split(text, ' ', -1) exactly:
    * single-space separator, empty tokens kept. */
  def compute(text: UTF8String): Double = {
    val s = text.toString
    val toks = s.split(" ", -1)
    var acc = 0.0
    var i = 0
    while (i < toks.length) {
      val h = Md5Bits60.compute(UTF8String.fromString(toks(i)))
      acc += ((h % 2049L).toDouble - 1024.0) / 1024.0
      i += 1
    }
    val sig = 1.0 / (1.0 + math.exp(-4.0 * acc / toks.length))
    java.math.BigDecimal.valueOf(sig)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
  }
}
