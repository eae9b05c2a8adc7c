package graft.exprs

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** `cosine_sim(a, b)` — cosine similarity of two array<double> columns
  * as a native Catalyst expression with whole-stage codegen.
  *
  * The declarative alternative (aggregate/zip_with higher-order
  * functions) materializes per-element lambda frames and measured ~60x
  * the FLOP cost on this engine's similarity hot paths; this expression
  * compiles to three primitive loops inside the generated stage, so
  * similarity scans stay fused with the parquet read (no UDF
  * serialization boundary, no codegen break).
  *
  * Semantics match DuckDB's list_cosine_similarity and the HOF
  * formulation it replaces: dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b)))
  * with strict left-to-right accumulation; null in → null out; arrays
  * are expected equal-length (dot runs over the shorter length).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim requires two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cosine_sim"

  // the result is also null when an ARRAY ELEMENT is null, so the
  // declared nullability must include containsNull — reporting false
  // here would make the analyzed schema NOT NULL and the row decoder
  // would read the null result as 0.0
  override def nullable: Boolean = {
    def elemNullable(dt: DataType): Boolean = dt match {
      case ArrayType(_, n) => n
      case _ => true
    }
    left.nullable || right.nullable ||
      elemNullable(left.dataType) || elemNullable(right.dataType)
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSim.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // when this expression is non-nullable, nullSafeCodeGen replaces
      // ev.isNull with FalseLiteral AFTER this block is baked — writing
      // `${ev.isNull} = true` here would reference an undeclared
      // variable and fail Janino compilation (silently dropping the
      // whole projection to interpreted mode). Non-nullable means
      // containsNull=false on both inputs, so the null-element scan is
      // statically dead: call the primitive kernel directly.
      if (nullable) {
        val r = ctx.freshName("cosRes")
        s"""
           |Double $r = graft.exprs.CosineSim.compute($a, $b);
           |if ($r == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $r.doubleValue(); }
         """.stripMargin
      } else
        s"${ev.value} = graft.exprs.CosineSim.computeNoNulls($a, $b);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {

  /** Shared kernel for interpreted eval and generated code. Returns
    * null when either array contains a null element — the same NULL
    * propagation as the aggregate/zip_with formulation this expression
    * replaced (toDoubleArray would instead read garbage or throw). */
  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    var i = 0
    while (i < a.numElements()) { if (a.isNullAt(i)) return null; i += 1 }
    i = 0
    while (i < b.numElements()) { if (b.isNullAt(i)) return null; i += 1 }
    computeNoNulls(a, b)
  }

  /** Primitive kernel for the containsNull=false codegen path: no null
    * scan, no boxing — the hot-loop form a similarity scan runs. */
  def computeNoNulls(a: ArrayData, b: ArrayData): Double = {
    val x = a.toDoubleArray()
    val y = b.toDoubleArray()
    val n = math.min(x.length, y.length)
    var dot = 0.0
    var i = 0
    while (i < n) { dot += x(i) * y(i); i += 1 }
    var na = 0.0
    i = 0
    while (i < x.length) { na += x(i) * x(i); i += 1 }
    var nb = 0.0
    i = 0
    while (i < y.length) { nb += y(i) * y(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}
