package graft.exprs

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `shingles3(text)` — distinct space-joined word 3-grams of a string,
  * in first-occurrence order, as one single-pass native expression.
  *
  * Replaces the declarative chain
  * `array_distinct(transform(sequence(1, size(w)-2), i -> concat_ws(' ',
  * w[i], w[i+1], w[i+2])))` over `split(text, ' ')`, which runs as
  * CodegenFallback (higher-order functions) and materializes three
  * intermediate arrays per row. Tokenization matches Spark's
  * `split(text, ' ')` with its default -1 limit: split on every single
  * space, interior empty segments kept, so outputs are byte-identical
  * to the old chain. Fewer than 3 tokens → empty array (explode then
  * drops the row, same as the old size-filter).
  */
case class Shingles3(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingles3 requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "shingles3"

  protected override def nullSafeEval(input: Any): Any =
    Shingles3.compute(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.exprs.Shingles3.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Shingles3 =
    copy(child = newChild)
}

object Shingles3 {

  /** Static entry shared by interpreted eval and generated code. */
  def compute(text: UTF8String): ArrayData = {
    val s = text.toString
    // Spark split(text, ' ') semantics (limit -1): split on each single
    // space, keep interior AND trailing empty segments
    val words = s.split(" ", -1)
    if (words.length < 3) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    val sb = new java.lang.StringBuilder(64)
    while (i + 2 < words.length) {
      sb.setLength(0)
      sb.append(words(i)).append(' ').append(words(i + 1)).append(' ')
        .append(words(i + 2))
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }
}
