package graft.exprs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Length, RuntimeReplaceable, Size, UnaryExpression}
import org.apache.spark.sql.types.{ArrayType, MapType}

/** DuckDB's polymorphic `len(x)`: element count for lists/maps, character
  * count for strings — one name, type-dispatched at analysis. Spark
  * splits this across size() and length(), so dashboards written for the
  * reference fail on whichever half they use. RuntimeReplaceable: the
  * analyzer swaps in the native Size/Length expression, so execution is
  * exactly the built-in codegen'd operator — this node never runs.
  */
case class Len(child: Expression) extends UnaryExpression with RuntimeReplaceable {

  override lazy val replacement: Expression = child.dataType match {
    case _: ArrayType | _: MapType => Size(child)
    case _ => Length(child)
  }

  override def prettyName: String = "len"

  override protected def withNewChildInternal(newChild: Expression): Len =
    copy(child = newChild)
}

object Len {
  /** `len` in `spark`'s registry; a no-op on a session born with
    * `graft.GraftExtensions`, which every session is on a classpath
    * holding this engine. It replaces Spark's own `len`, which counts
    * only strings and binary. */
  def register(spark: SparkSession): Unit = graft.GraftExtensions.register(spark, "len")
}
