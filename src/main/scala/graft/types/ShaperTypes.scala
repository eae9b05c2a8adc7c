package graft.types

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

/** Shaper's 48 custom SQL types, re-expressed for Spark.
  *
  * The reference implements these as DuckDB UNION types
  * (ref: server/core/custom_types.go:17-84) so that (a) plain values cast
  * transparently (`count()::BARCHART`) and (b) result columns are
  * recognizable by their type name (ref: get_dashboard.go:710-747).
  *
  * Spark has no UNION type, so the idiomatic mapping is a tagged
  * single-field struct: `BARCHART(x)` yields
  * `STRUCT<value: DOUBLE>` whose field *metadata* carries
  * `shaperType = "BARCHART"` and `shaperMember = "barchart_double"` —
  * the same two facts DuckDB's union definition string encodes. Column
  * recognition is then a schema scan (see graft.render.Render).
  *
  * Member dispatch mirrors DuckDB's union cast: the first union member
  * whose type accepts the input wins; anything else is an analysis-time
  * error, like DuckDB's failed union cast.
  */
object ShaperTypes {

  sealed trait Kind
  case object KVarchar extends Kind
  case object KTimestamp extends Kind
  case object KTimestampTz extends Kind
  case object KTime extends Kind // Spark has no TIME type: never matches (documented gap)
  case object KDouble extends Kind
  case object KInterval extends Kind
  case object KDate extends Kind
  case object KVarcharArr extends Kind
  case object KDoubleArr extends Kind
  case object KIntervalArr extends Kind

  /** resultClass mirrors custom_types.go's ResultType column. */
  final case class TypeDef(name: String, members: Seq[(String, Kind)], resultClass: String)

  private def axisMembers(p: String, withVarchar: Boolean): Seq[(String, Kind)] = {
    val base = Seq(
      s"${p}_timestamp" -> KTimestamp, s"${p}_timestamptz" -> KTimestampTz,
      s"${p}_time" -> KTime, s"${p}_double" -> KDouble, s"${p}_interval" -> KInterval)
    if (withVarchar) (s"${p}_varchar" -> KVarchar) +: base else base
  }
  private def chart(p: String): Seq[(String, Kind)] =
    Seq(s"${p}_interval" -> KInterval, s"${p}_double" -> KDouble)
  private def str1(m: String): Seq[(String, Kind)] = Seq(m -> KVarchar)
  private def dbl1(m: String): Seq[(String, Kind)] = Seq(m -> KDouble)
  private def datepicker(p: String): Seq[(String, Kind)] = Seq(
    s"${p}_date" -> KDate, s"${p}_timestamp" -> KTimestamp, s"${p}_timestamptz" -> KTimestampTz)
  private def schedule(p: String): Seq[(String, Kind)] = Seq(
    s"${p}_timestamp" -> KTimestamp, s"${p}_timestamptz" -> KTimestampTz,
    s"${p}_interval" -> KInterval, s"${p}_varchar" -> KVarchar)

  val all: Seq[TypeDef] = Seq(
    TypeDef("LABEL", str1("label_varchar"), "string"),
    TypeDef("XAXIS", axisMembers("xaxis", withVarchar = true), "axis"),
    TypeDef("YAXIS", axisMembers("yaxis", withVarchar = true), "axis"),
    TypeDef("XLINE", axisMembers("xline", withVarchar = true), "axis"),
    TypeDef("YLINE", axisMembers("yline", withVarchar = false), "axis"),
    TypeDef("LINECHART", chart("linechart"), "chart"),
    TypeDef("LINECHART_PERCENT", dbl1("linechart_percent_double"), "percent"),
    TypeDef("LINECHART_CATEGORY", str1("linechart_category_varchar"), "string"),
    TypeDef("SCATTERPLOT", chart("scatterplot"), "chart"),
    TypeDef("SCATTERPLOT_PERCENT", dbl1("scatterplot_percent_double"), "percent"),
    TypeDef("SCATTERPLOT_CATEGORY", str1("scatterplot_category_varchar"), "string"),
    TypeDef("BARCHART", chart("barchart"), "chart"),
    TypeDef("BARCHART_PERCENT", dbl1("barchart_percent_double"), "percent"),
    TypeDef("BARCHART_STACKED", chart("barchart_stacked"), "chart"),
    TypeDef("BARCHART_STACKED_PERCENT", dbl1("barchart_stacked_percent"), "percent"),
    // Alias for BARCHART_STACKED_PERCENT (same member name, ref custom_types.go:38)
    TypeDef("BARCHART_PERCENT_STACKED", dbl1("barchart_stacked_percent"), "percent"),
    TypeDef("BARCHART_CATEGORY", str1("barchart_category_varchar"), "string"),
    TypeDef("CATEGORY", str1("category_varchar"), "string"),
    TypeDef("DROPDOWN", str1("dropdown_varchar"), "string"),
    TypeDef("DROPDOWN_MULTI", str1("dropdown_multi_varchar"), "string"),
    TypeDef("HINT", str1("hint_varchar"), "string"),
    TypeDef("SECTION", str1("section_varchar"), "string"),
    TypeDef("DOWNLOAD_CSV", str1("download_csv_varchar"), "string"),
    TypeDef("DOWNLOAD_XLSX", str1("download_xlsx_varchar"), "string"),
    TypeDef("DOWNLOAD_JSON", str1("download_json_varchar"), "string"),
    TypeDef("DOWNLOAD_PDF", str1("download_pdf_varchar"), "string"),
    TypeDef("DATEPICKER", datepicker("datepicker"), "date"),
    TypeDef("DATEPICKER_FROM", datepicker("datepicker_from"), "date"),
    TypeDef("DATEPICKER_TO", datepicker("datepicker_to"), "date"),
    TypeDef("COMPARE", Seq("compare_double" -> KDouble, "compare_interval" -> KInterval), "chart"),
    TypeDef("TREND", dbl1("trend_double"), "number"),
    TypeDef("PLACEHOLDER", str1("placeholder_varchar"), "string"),
    TypeDef("INPUT", str1("input_varchar"), "string"),
    TypeDef("PERCENT", dbl1("percent_double"), "percent"),
    TypeDef("RELOAD", Seq(
      "reload_timestamp" -> KTimestamp, "reload_timestamptz" -> KTimestampTz,
      "reload_interval" -> KInterval), "timestamp"),
    TypeDef("SCHEDULE", schedule("schedule"), "timestamp"),
    TypeDef("SCHEDULE_ALL", schedule("schedule_all"), "timestamp"),
    TypeDef("GAUGE", chart("gauge"), "chart"),
    TypeDef("GAUGE_PERCENT", dbl1("gauge_percent"), "percent"),
    TypeDef("PIECHART", dbl1("piechart_double"), "chart"),
    TypeDef("PIECHART_PERCENT", dbl1("piechart_percent_double"), "percent"),
    TypeDef("PIECHART_CATEGORY", str1("piechart_category_varchar"), "string"),
    TypeDef("PIECHART_COLOR", str1("piechart_color_varchar"), "string"),
    TypeDef("DONUTCHART", dbl1("donutchart_double"), "chart"),
    TypeDef("DONUTCHART_PERCENT", dbl1("donutchart_percent_double"), "percent"),
    TypeDef("DONUTCHART_CATEGORY", str1("donutchart_category_varchar"), "string"),
    TypeDef("RANGE", Seq("range_interval" -> KIntervalArr, "range_double" -> KDoubleArr), "array"),
    TypeDef("LABELS", Seq("labels_varchar" -> KVarcharArr), "array"),
    TypeDef("COLORS", Seq("colors_varchar" -> KVarcharArr), "array"),
    TypeDef("COLOR", str1("color_varchar"), "string"),
    TypeDef("LINECHART_COLOR", str1("linechart_color_varchar"), "string"),
    TypeDef("BARCHART_COLOR", str1("barchart_color_varchar"), "string"),
    TypeDef("SCATTERPLOT_COLOR", str1("scatterplot_color_varchar"), "string"),
    TypeDef("HEADER_IMAGE", str1("header_image_varchar"), "string"),
    TypeDef("FOOTER_LINK", str1("footer_link_varchar"), "string"),
    TypeDef("ID", str1("id_varchar"), "string"),
    TypeDef("TEXT_SMALL", str1("text_small_varchar"), "string"),
    TypeDef("TEXT_MEDIUM", str1("text_medium_varchar"), "string"),
    TypeDef("TEXT_LARGE", str1("text_large_varchar"), "string"),
    TypeDef("BAND_LOWER", chart("band_lower"), "chart"),
    TypeDef("BAND_UPPER", chart("band_upper"), "chart"))

  val byName: Map[String, TypeDef] = all.map(t => t.name -> t).toMap
  val names: Set[String] = byName.keySet

  private def isIntervalType(dt: DataType): Boolean = dt match {
    case _: DayTimeIntervalType | _: YearMonthIntervalType | CalendarIntervalType => true
    case _ => false
  }

  /** Target Spark type if `kind` accepts input `dt`, else None. */
  private def accept(kind: Kind, dt: DataType): Option[DataType] = kind match {
    case KVarchar => if (dt == StringType) Some(StringType) else None
    case KTimestamp => dt match {
      case TimestampType | TimestampNTZType => Some(dt)
      case _ => None
    }
    case KTimestampTz => if (dt == TimestampType) Some(dt) else None
    case KTime => None
    case KDouble => dt match {
      case _: NumericType => Some(DoubleType)
      case _ => None
    }
    case KInterval => if (isIntervalType(dt)) Some(dt) else None
    case KDate => if (dt == DateType) Some(DateType) else None
    case KVarcharArr => dt match {
      case ArrayType(StringType, n) => Some(ArrayType(StringType, n))
      case _ => None
    }
    case KDoubleArr => dt match {
      case ArrayType(_: NumericType, n) => Some(ArrayType(DoubleType, n))
      case _ => None
    }
    case KIntervalArr => dt match {
      case ArrayType(et, n) if isIntervalType(et) => Some(ArrayType(et, n))
      case _ => None
    }
  }

  /** First union member accepting the input type (DuckDB union-cast order). */
  def dispatch(typeName: String, dt: DataType): Option[(String, DataType)] =
    byName.get(typeName).flatMap(_.members.iterator
      .flatMap { case (m, k) => accept(k, dt).map(m -> _) }
      .nextOption())

  val TypeKey = "shaperType"
  val MemberKey = "shaperMember"

  /** The 48 types as SQL functions in `spark`'s registry (the `::NAME`
    * cast syntax is turned into these calls by graft.sqlfront.Dialect); a
    * no-op on a session born with `graft.GraftExtensions`, which every
    * session is on a classpath holding this engine. The extension also
    * gives every session [[graft.plans.ShaperTagRules]]. */
  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.register(spark, all.map(_.name): _*)
}

/** `expr::NAME` for a shaper custom type: wraps the (member-cast) value in
  * a single-field struct whose field metadata identifies the type + member.
  * CodegenFallback: it is interpreted wherever the plan evaluates it. A
  * tag over a raw column in a plain projection runs per input row; a
  * constant-only statement is folded during optimization and a tagged grouping
  * key groups on [[member]] and is re-tagged per group
  * (graft.plans.ShaperTagRules), so there it only sees result rows.
  */
case class ShaperTagged(typeName: String, child: Expression)
    extends UnaryExpression with CodegenFallback {

  private lazy val resolvedMember: Option[(String, DataType)] =
    if (child.resolved) ShaperTypes.dispatch(typeName, child.dataType) else None

  override def checkInputDataTypes(): TypeCheckResult =
    if (resolvedMember.isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"Conversion Error: Could not convert ${child.dataType.simpleString} to $typeName " +
        s"(no matching union member)")

  private lazy val (memberName, targetType) = resolvedMember.get

  /** The value the struct holds: the child, cast to the union member's
    * type when the member is wider (e.g. BIGINT → the double member). */
  lazy val member: Expression =
    if (targetType == child.dataType) child else Cast(child, targetType)

  override def dataType: DataType = StructType(Seq(StructField(
    "value", targetType, nullable = true,
    new MetadataBuilder()
      .putString(ShaperTypes.TypeKey, typeName)
      .putString(ShaperTypes.MemberKey, memberName)
      .build())))

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = InternalRow(member.eval(input))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = typeName
}
