package graft.exprs

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** `sq_dist(a, b)` — squared L2 distance of two array<double> columns
  * as a native Catalyst expression with whole-stage codegen.
  *
  * This is the assignment kernel of the k-means family (s04, d17, s10,
  * s02's probe, s09's codeword argmin): the declarative
  * `aggregate(zip_with(a, b, (x, y) -> (x-y)*(x-y)), 0D, (acc, v) ->
  * acc + v)` runs as CodegenFallback and materializes a per-element
  * lambda frame per row — and the unrolled Lloyd trajectory duplicates
  * that subtree ~20×, so its cost multiplies. One primitive loop keeps
  * the distance scan fused into the generated stage.
  *
  * Semantics mirror the HOF formulation EXACTLY (oracle parity):
  * strict left-to-right accumulation, and null when the arrays differ
  * in length (zip_with pads the short side with null, nulling the sum)
  * or when any element is null; null in → null out.
  */
case class SqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sq_dist requires two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sq_dist"

  // null also for length mismatch / null element, so nullable even on
  // non-null children (the CosineSim lesson: under-reporting makes the
  // decoder read null as 0.0)
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    SqDist.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("sqdRes")
      s"""
         |Double $r = graft.exprs.SqDist.compute($a, $b);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDist =
    copy(left = newLeft, right = newRight)
}

object SqDist {

  /** Shared kernel for interpreted eval and generated code. Null when
    * lengths differ or any element is null — exactly the zip_with
    * padding semantics this replaces. */
  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      i += 1
    }
    var acc = 0.0
    i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      acc += d * d
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}
