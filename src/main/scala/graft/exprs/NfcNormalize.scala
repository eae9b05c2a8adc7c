package graft.exprs

import java.text.Normalizer

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `nfc_normalize(text)` — Unicode NFC normalization (UAX#15 canonical
  * decomposition + canonical composition) as a native codegen'd
  * expression over `java.text.Normalizer`.
  *
  * Training-data pipelines normalize crawled text before hashing or
  * shingling: the same visible string can arrive composed (U+00E9) or
  * decomposed (e + U+0301), and every dedup/fingerprint operator in
  * this engine keys on bytes. Spark has no built-in normalizer, so this
  * is the (b)-tier extension point from the builder contract — a scalar
  * Catalyst `Expression` with `doGenCode` (a static call, so the whole
  * projection stays inside whole-stage codegen; no UDF serialization).
  *
  * ASCII fast path: `Normalizer.isNormalized` is O(n) with no
  * allocation and true for all-ASCII input, which is the overwhelming
  * hot path on web text — normalization only materializes a new string
  * when the input actually contains marks. Matches DuckDB's
  * `nfc_normalize` codepoint-for-codepoint (both implement UAX#15).
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nfc_normalize"

  protected override def nullSafeEval(input: Any): Any =
    NfcNormalize.compute(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.exprs.NfcNormalize.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {

  /** Static entry shared by interpreted eval and generated code. */
  def compute(text: UTF8String): UTF8String = {
    // all-ASCII fast path: a pure byte scan with zero allocation —
    // ASCII is closed under NFC, so the input can be returned as-is
    // without ever decoding to UTF-16
    var i = 0
    val n = text.numBytes
    while (i < n && text.getByte(i) >= 0) i += 1
    if (i == n) return text
    val s = text.toString
    if (Normalizer.isNormalized(s, Normalizer.Form.NFC)) text
    else UTF8String.fromString(Normalizer.normalize(s, Normalizer.Form.NFC))
  }
}
