package graft.exprs

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** `jl_project(e, inDims, outDims)` — Johnson-Lindenstrauss sign
  * random projection of an array<double> to `outDims` components as a
  * native codegen'd Catalyst expression.
  *
  * Replaces the unrolled literal expression tree (inDims × outDims add
  * terms): at the bench shape (64→8) that tree already blew Janino's
  * 64 KB method limit and silently dropped the whole stage to
  * interpreted eval, and a realistic 768→64 call would build ~50k
  * expression nodes at analysis time (r6 advice). Here the projection
  * is two primitive loops inside the generated stage — arbitrary dims,
  * always codegen'd, runs at scan speed.
  *
  * Semantics are bit-identical to the tree it replaces (and the DuckDB
  * oracle): components quantize to integer micro-units
  * (floor(x·1e6 + 0.5) as long — exact, associative accumulation, the
  * s05/s08 determinism idiom), the ±1 sign for (i, j) derives from
  * md5(i + "_" + j) so both engines regenerate the identical matrix,
  * the sum scales by 1/(1e6·sqrt(outDims)), and each component rounds
  * HALF_UP to 4 decimals exactly as Spark's `round` does. A missing or
  * null element (input shorter than inDims) nulls the whole result —
  * the `element_at` semantics of the old tree.
  *
  * The sign matrix is derived once per (inDims, outDims) per JVM and
  * memoized statically — nothing is serialized with the expression.
  */
case class JlProject(child: Expression, inDims: Int, outDims: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) if inDims > 0 && outDims > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckFailure(
        s"jl_project dims must be positive, got ($inDims, $outDims)")
    case dt =>
      TypeCheckResult.TypeCheckFailure(
        s"jl_project requires an array<double> argument, got ${dt.simpleString}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "jl_project"
  override def nullIntolerant: Boolean = true
  // a too-short input or a null element nulls the result even when the
  // array itself is non-null
  override def nullable: Boolean = true

  protected override def nullSafeEval(input: Any): Any =
    JlProject.compute(input.asInstanceOf[ArrayData], inDims, outDims)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("jlRes")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $r =
         |  graft.exprs.JlProject.compute($c, $inDims, $outDims);
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): JlProject =
    copy(child = newChild)
}

object JlProject {

  // sign matrix memo: [j][i] = +1/-1, keyed per (inDims, outDims) —
  // derived once per JVM, never shipped with the plan
  private val matrices =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Byte]]]()

  private[graft] def signMatrix(inDims: Int, outDims: Int): Array[Array[Byte]] =
    matrices.computeIfAbsent((inDims, outDims), { _ =>
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(outDims, inDims) { (j, i) =>
        md.reset()
        val hex = md.digest(s"${i}_$j".getBytes("UTF-8"))
        // first hex char < '8' <=> high nibble of byte 0 in 0..7
        if (((hex(0) >> 4) & 0xF) < 8) 1.toByte else (-1).toByte
      }
    })

  /** Static kernel shared by interpreted eval and generated code.
    * Returns null when the input is shorter than inDims or carries a
    * null element (the old tree's element_at semantics). */
  def compute(e: ArrayData, inDims: Int, outDims: Int): ArrayData = {
    if (e.numElements() < inDims) return null
    val q = new Array[Long](inDims)
    var i = 0
    while (i < inDims) {
      if (e.isNullAt(i)) return null
      q(i) = math.floor(e.getDouble(i) * 1000000.0 + 0.5).toLong
      i += 1
    }
    val signs = signMatrix(inDims, outDims)
    val sqrtOut = math.sqrt(outDims.toDouble)
    val out = new Array[Double](outDims)
    var j = 0
    while (j < outDims) {
      val sj = signs(j)
      var acc = 0L
      i = 0
      while (i < inDims) {
        acc += (if (sj(i) > 0) q(i) else -q(i))
        i += 1
      }
      // exactly Spark's round(x, 4) for doubles: BigDecimal HALF_UP.
      // Two SEQUENTIAL divisions, not acc/(1e6*sqrt(n)): the replaced
      // unrolled tree, the spec's recompute, and the DuckDB oracle all
      // evaluate (sum / 1e6) / sqrt(n), and IEEE a/(b*c) can differ
      // from (a/b)/c by 1 ulp — enough to flip HALF_UP on a boundary.
      out(j) = java.math.BigDecimal.valueOf(acc.toDouble / 1000000.0 / sqrtOut)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
      j += 1
    }
    new GenericArrayData(out)
  }

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"jl_project $what must be an integer literal, got $other")
  }

  /** `jl_project`'s builder from raw call-site expressions (used by
    * GraftExtensions): dims must be integer literals — the sign matrix
    * is derived at plan build. */
  def fromExprs(exprs: Seq[Expression]): JlProject =
    JlProject(exprs.head, intLit(exprs(1), "inDims"), intLit(exprs(2), "outDims"))
}
