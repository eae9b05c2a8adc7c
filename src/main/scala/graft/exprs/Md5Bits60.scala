package graft.exprs

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `md5_bits60(s)` — the first 60 bits of md5(s) as a non-negative
  * long, bit-identical to the portable-hash idiom used across the
  * engine: `cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)`
  * (DuckDB: `('0x' || substring(md5(s), 1, 15))::BIGINT`). 15 hex
  * chars = 60 bits, deliberately under 63 so the signed cast can never
  * overflow in either engine.
  *
  * The composed form materializes a 32-char hex string per row, slices
  * it, and re-parses the slice as base-16 — three string allocations
  * on the hottest path the engine has (d05 hashes every shingle of
  * every document). This expression digests the UTF-8 bytes directly
  * and assembles the value from the first 7.5 digest bytes: zero
  * intermediate strings, one thread-local MessageDigest, identical
  * value.
  */
case class Md5Bits60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"md5_bits60 requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "md5_bits60"

  protected override def nullSafeEval(input: Any): Any =
    Md5Bits60.compute(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.exprs.Md5Bits60.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Md5Bits60 =
    copy(child = newChild)
}

object Md5Bits60 {

  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 15 hex chars of md5 as a long: 7 full bytes (56 bits) plus
    * the high nibble of byte 7 — exactly what base-16-parsing the
    * 15-char hex prefix yields. */
  def compute(s: UTF8String): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
    (v << 4) | ((d(7) & 0xF0L) >> 4)
  }
}
