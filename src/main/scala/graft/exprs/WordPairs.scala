package graft.exprs

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `word_pairs(text)` — ALL adjacent space-joined word 2-grams of a
  * string, in order, duplicates kept — the BPE-training inner loop's
  * unit of work (t13 counts these corpus-wide to find the next merge
  * candidate). Non-distinct by design: pair FREQUENCY is the signal,
  * unlike shingles3's distinct set semantics. Same single-pass native
  * shape as Shingles3 (the HOF alternative runs as CodegenFallback and
  * materializes intermediate arrays); tokenization matches Spark's
  * `split(text, ' ')` with its default -1 limit. Fewer than 2 tokens →
  * empty array.
  */
case class WordPairs(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_pairs requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "word_pairs"

  protected override def nullSafeEval(input: Any): Any =
    WordPairs.compute(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.exprs.WordPairs.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): WordPairs =
    copy(child = newChild)
}

object WordPairs {

  /** Static entry shared by interpreted eval and generated code. */
  def compute(text: UTF8String): ArrayData = {
    val words = text.toString.split(" ", -1)
    if (words.length < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](words.length - 1)
    var i = 0
    val sb = new java.lang.StringBuilder(48)
    while (i + 1 < words.length) {
      sb.setLength(0)
      sb.append(words(i)).append(' ').append(words(i + 1))
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }
}
