package graft.render

import graft.types.ShaperTypes
import Model._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.CalendarInterval
import java.time.{LocalDateTime, ZoneOffset}

/** Pure render-inference logic over (schema, collected rows): column
  * recognition by shaper tag, result-type mapping, timestamp-granularity
  * inference, the render-type decision tree, tag assignment, gauge
  * assembly, mark lines, and value serialization.
  *
  * Ports the decision order of the reference exactly
  * (ref: server/core/get_dashboard.go:535-1505, 2089-2317). Everything
  * here runs driver-side on ≤3000 collected rows (row cap, ref
  * get_dashboard.go:23) — the heavy lifting stayed distributed in Spark.
  */
object Render {

  // ---- shaper column recognition ------------------------------------

  /** (typeName, memberName) if the field is a shaper tagged struct. */
  def shaperTypeOf(f: StructField): Option[(String, String)] = f.dataType match {
    case StructType(Array(inner)) if inner.metadata.contains(ShaperTypes.TypeKey) =>
      Some((inner.metadata.getString(ShaperTypes.TypeKey),
        inner.metadata.getString(ShaperTypes.MemberKey)))
    case _ => None
  }

  /** Index of first column tagged with the given shaper type name.
    * (ref: findColumnByTag, get_dashboard.go:710-727) */
  def findColumnByTag(schema: Seq[StructField], tag: String): Option[Int] = {
    val i = schema.indexWhere(f => shaperTypeOf(f).exists(_._1 == tag))
    if (i < 0) None else Some(i)
  }

  def findAllColumnsByTag(schema: Seq[StructField], tag: String): Seq[Int] =
    schema.zipWithIndex.collect {
      case (f, i) if shaperTypeOf(f).exists(_._1 == tag) => i
    }

  /** BOXPLOT aggregate result struct (ref boxplotType, custom_types.go:102). */
  def isBoxplotStruct(dt: DataType): Boolean = dt match {
    case s: StructType =>
      s.fieldNames.toSeq == Seq("max", "min", "outliers", "q1", "q2", "q3")
    case _ => false
  }

  def findBoxplotColumnIndex(schema: Seq[StructField]): Int =
    schema.indexWhere(f => isBoxplotStruct(f.dataType))

  /** Unwrap a shaper tagged-struct cell to its inner value. */
  def unwrap(cell: Any): Any = cell match {
    case r: Row if r.length == 1 => r.get(0)
    case other => other
  }

  // ---- value coercions (serialization parity) ------------------------

  private val UTC = ZoneOffset.UTC

  def toLocalDateTime(v: Any): Option[LocalDateTime] = v match {
    case t: java.sql.Timestamp => Some(t.toInstant.atZone(UTC).toLocalDateTime)
    case t: java.time.Instant => Some(t.atZone(UTC).toLocalDateTime)
    case t: LocalDateTime => Some(t)
    case d: java.sql.Date => Some(d.toLocalDate.atStartOfDay)
    case d: java.time.LocalDate => Some(d.atStartOfDay)
    case _ => None
  }

  def epochMillis(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp => Some(t.getTime)
    case t: java.time.Instant => Some(t.toEpochMilli)
    case t: LocalDateTime => Some(t.toInstant(UTC).toEpochMilli)
    case d: java.sql.Date => Some(d.toLocalDate.atStartOfDay(UTC).toInstant.toEpochMilli)
    case d: java.time.LocalDate => Some(d.atStartOfDay(UTC).toInstant.toEpochMilli)
    case _ => None
  }

  /** Interval → milliseconds with months ≈ 30 days
    * (ref: formatInterval, get_dashboard.go:2094-2101). */
  def intervalMillis(v: Any): Long = v match {
    case d: java.time.Duration => d.toMillis
    case p: java.time.Period =>
      p.toTotalMonths * 30L * 24 * 60 * 60 * 1000 + p.getDays * 24L * 60 * 60 * 1000
    case c: CalendarInterval =>
      c.microseconds / 1000 + c.days * 24L * 60 * 60 * 1000 +
        c.months * 30L * 24 * 60 * 60 * 1000
    case _ => 0L
  }

  def isIntervalValue(v: Any): Boolean = v match {
    case _: java.time.Duration | _: java.time.Period | _: CalendarInterval => true
    case _ => false
  }

  /** ms since midnight (ref: formatTime, get_dashboard.go:2103-2107). */
  def timeOfDayMillis(t: LocalDateTime): Long =
    (t.getHour * 3600L + t.getMinute * 60L + t.getSecond) * 1000 + t.getNano / 1000000

  def numberToString(d: Double): String =
    if (d == d.floor && !d.isInfinite && math.abs(d) < 1e15) d.toLong.toString
    else java.math.BigDecimal.valueOf(d).toPlainString

  def asDouble(v: Any): Option[Double] = v match {
    case n: java.lang.Number => Some(n.doubleValue())
    case _ => None
  }

  // ---- type mapping (mapDBType parity, get_dashboard.go:615-695) ------

  /** Classify a timestamp column as year/month/date/hour/time/timestamp by
    * inspecting values (ref: getTimestampType, get_dashboard.go:1349-1404;
    * 1-row results ⇒ timestamp). */
  def timestampGranularity(rows: Seq[Row], index: Int, shaperCol: Boolean): String = {
    var hasYear, hasMonth, hasDay, hasHour, hasMSN = false
    val it = rows.iterator
    while (it.hasNext) {
      val cell0 = it.next().get(index)
      val cell = if (shaperCol) unwrap(cell0) else cell0
      if (cell != null) {
        toLocalDateTime(cell) match {
          case Some(t) =>
            if (t.getMinute != 0 || t.getSecond != 0 || t.getNano != 0) hasMSN = true
            if (t.getHour != 0) hasHour = true
            if (t.getYear != 1) hasYear = true
            if (t.getMonthValue != 1) hasMonth = true
            if (t.getDayOfMonth != 1) hasDay = true
            if (hasMSN && (hasYear || hasMonth || hasDay)) return "timestamp"
          case None => return "timestamp"
        }
      }
    }
    if (rows.length < 2) "timestamp"
    else if (!hasDay && !hasMonth && !hasYear && (hasHour || hasMSN)) "time"
    else if (hasMSN) "timestamp"
    else if (hasHour) "hour"
    else if (hasDay) "date"
    else if (hasMonth) "month"
    else "year"
  }

  /** chart resultClass → duration|number (ref: getChartType). */
  private def chartType(member: String): String =
    if (member.endsWith("_interval")) "duration" else "number"

  /** axis resultClass → granularity|time|number|duration|string
    * (ref: getAxisType, get_dashboard.go:1483-1505). */
  private def axisType(member: String, rows: Seq[Row], index: Int): String = {
    if (rows.isEmpty) "string"
    else if (member.endsWith("_timestamp") || member.endsWith("_timestamptz"))
      timestampGranularity(rows, index, shaperCol = true)
    else if (member.endsWith("_time")) "time"
    else if (member.endsWith("_double")) "number"
    else if (member.endsWith("_interval")) "duration"
    else "string"
  }

  /** Spark type (+ values) → shaper result type vocabulary. */
  def mapColType(field: StructField, rows: Seq[Row], index: Int): String =
    shaperTypeOf(field) match {
      case Some((name, member)) =>
        val td = ShaperTypes.byName(name)
        td.resultClass match {
          case "chart" => chartType(member)
          case "axis" => axisType(member, rows, index)
          case "timestamp" => "timestamp"
          case other => other
        }
      case None => field.dataType match {
        case NullType => "string" // e.g. getvariable of an unset variable
        case BooleanType => "boolean"
        case _: NumericType => "number"
        case StringType => "string"
        case DateType => "date"
        case TimestampType | TimestampNTZType =>
          timestampGranularity(rows, index, shaperCol = false)
        case _: DayTimeIntervalType | _: YearMonthIntervalType | CalendarIntervalType =>
          "duration"
        case BinaryType => "string"
        case ArrayType(StringType, _) => "stringArray"
        case s: StructType if isBoxplotStruct(s) => "object"
        case _: MapType | _: StructType => "object"
        case _: ArrayType => "array"
        case other =>
          throw new IllegalArgumentException(s"unsupported type: ${other.simpleString}")
      }
    }

  // ---- render info (decision tree) ------------------------------------

  final case class RenderInfo(
      tpe: String,
      label: Option[String],
      indexAxis: Option[Int] = None,
      valueAxis: Option[Int] = None,
      category: Option[Int] = None,
      color: Option[Int] = None,
      bandLower: Option[Int] = None,
      bandUpper: Option[Int] = None,
      valueIndex: Option[Int] = None,
      labelIndex: Option[Int] = None,
      hintIndex: Option[Int] = None,
      fromIndex: Option[Int] = None,
      toIndex: Option[Int] = None,
      compareIndex: Option[Int] = None,
      download: String = "",
      downloadIdIndex: Option[Int] = None,
      valueSize: String = "",
      trendIndex: Seq[Int] = Nil,
      gaugeCategories: Seq[GaugeCategory] = Nil,
      markLines: Seq[MarkLine] = Nil)

  private def downloadType(schema: Seq[StructField]): String =
    if (findColumnByTag(schema, "DOWNLOAD_CSV").isDefined) "csv"
    else if (findColumnByTag(schema, "DOWNLOAD_XLSX").isDefined) "xlsx"
    else if (findColumnByTag(schema, "DOWNLOAD_JSON").isDefined) "json"
    else if (findColumnByTag(schema, "DOWNLOAD_PDF").isDefined) "pdf"
    else ""

  /** The full decision tree: linechart → scatterplot → barchartH/HStacked →
    * barchartV/VStacked → dropdown → dropdownMulti → datepicker →
    * daterangePicker → download button → placeholder → gauge → pie/donut →
    * boxplot → input → value(+compare/size) → table(+trend).
    * (ref: getRenderInfo, get_dashboard.go:874-1347; order preserved) */
  def getRenderInfo(schema: Seq[StructField], rows: Seq[Row], label: String,
      markLines: Seq[MarkLine], nowMillis: () => Long): RenderInfo = {
    val labelValue = if (label.nonEmpty) Some(label) else None
    def find(t: String) = findColumnByTag(schema, t)
    def findFirst(ts: String*): Option[Int] = ts.iterator.flatMap(find(_)).nextOption()

    val xaxis = find("XAXIS")

    val linechart = findFirst("LINECHART", "LINECHART_PERCENT")
    if (linechart.isDefined && xaxis.isDefined) {
      return RenderInfo("linechart", labelValue,
        indexAxis = xaxis, valueAxis = linechart,
        category = findFirst("LINECHART_CATEGORY", "CATEGORY"),
        color = findFirst("LINECHART_COLOR", "COLOR"),
        bandLower = find("BAND_LOWER"), bandUpper = find("BAND_UPPER"),
        markLines = markLines)
    }

    val scatter = findFirst("SCATTERPLOT", "SCATTERPLOT_PERCENT")
    if (scatter.isDefined && xaxis.isDefined) {
      return RenderInfo("scatterplot", labelValue,
        indexAxis = xaxis, valueAxis = scatter,
        category = findFirst("SCATTERPLOT_CATEGORY", "CATEGORY"),
        color = findFirst("SCATTERPLOT_COLOR", "COLOR"),
        markLines = markLines)
    }

    val barchart = findFirst("BARCHART", "BARCHART_PERCENT")
    val barCat = findFirst("BARCHART_CATEGORY", "CATEGORY")
    val barColor = findFirst("BARCHART_COLOR", "COLOR")
    if (barchart.isDefined && xaxis.isDefined) {
      return RenderInfo("barchartHorizontal", labelValue,
        indexAxis = xaxis, valueAxis = barchart,
        category = barCat, color = barColor, markLines = markLines)
    }
    val barStacked = findFirst(
      "BARCHART_STACKED", "BARCHART_STACKED_PERCENT", "BARCHART_PERCENT_STACKED")
    if (barStacked.isDefined && xaxis.isDefined) {
      return RenderInfo("barchartHorizontalStacked", labelValue,
        indexAxis = xaxis, valueAxis = barStacked,
        category = barCat, color = barColor, markLines = markLines)
    }
    val yaxis = find("YAXIS")
    if (barchart.isDefined && yaxis.isDefined) {
      return RenderInfo("barchartVertical", labelValue,
        indexAxis = yaxis, valueAxis = barchart,
        category = barCat, color = barColor, markLines = markLines)
    }
    if (barStacked.isDefined && yaxis.isDefined) {
      return RenderInfo("barchartVerticalStacked", labelValue,
        indexAxis = yaxis, valueAxis = barStacked,
        category = barCat, color = barColor, markLines = markLines)
    }

    val dropdown = find("DROPDOWN")
    if (dropdown.isDefined) {
      return RenderInfo("dropdown", labelValue,
        valueIndex = dropdown, labelIndex = find("LABEL"))
    }
    val dropdownMulti = find("DROPDOWN_MULTI")
    if (dropdownMulti.isDefined) {
      return RenderInfo("dropdownMulti", labelValue,
        valueIndex = dropdownMulti, labelIndex = find("LABEL"), hintIndex = find("HINT"))
    }
    val datepicker = find("DATEPICKER")
    if (datepicker.isDefined) {
      return RenderInfo("datepicker", labelValue, valueIndex = datepicker)
    }
    val dFrom = find("DATEPICKER_FROM")
    val dTo = find("DATEPICKER_TO")
    if (dFrom.isDefined && dTo.isDefined) {
      return RenderInfo("daterangePicker", labelValue, fromIndex = dFrom, toIndex = dTo)
    }

    val dl = downloadType(schema)
    if (dl.nonEmpty) {
      val idIdx = if (dl == "pdf") find("ID") else None
      return RenderInfo("button", labelValue, download = dl, downloadIdIndex = idIdx)
    }

    if (find("PLACEHOLDER").isDefined && rows.length == 1 && rows.head.length == 1) {
      return RenderInfo("placeholder", labelValue)
    }

    val gauge = findFirst("GAUGE", "GAUGE_PERCENT")
    if (gauge.isDefined && rows.length == 1) {
      val isGaugePercent = find("GAUGE").isEmpty
      val cats = gaugeCategories(schema, rows.head, gauge.get, isGaugePercent)
      return RenderInfo("gauge", labelValue, valueAxis = gauge, gaugeCategories = cats)
    }

    val pie = findFirst("PIECHART", "PIECHART_PERCENT")
    val donut = if (pie.isEmpty) findFirst("DONUTCHART", "DONUTCHART_PERCENT") else None
    if (pie.isDefined || donut.isDefined) {
      return RenderInfo(if (donut.isDefined) "donutchart" else "piechart", labelValue,
        valueAxis = pie.orElse(donut),
        category = findFirst("PIECHART_CATEGORY", "DONUTCHART_CATEGORY", "CATEGORY"),
        color = findFirst("PIECHART_COLOR", "COLOR"))
    }

    val boxplot = findBoxplotColumnIndex(schema)
    if (boxplot > -1 && xaxis.isDefined) {
      return RenderInfo("boxplot", labelValue,
        indexAxis = xaxis, valueAxis = Some(boxplot),
        color = find("COLOR"), markLines = markLines)
    }

    val input = find("INPUT")
    if (input.isDefined && rows.length == 1) {
      return RenderInfo("input", labelValue, hintIndex = input)
    }

    if (rows.length == 1) {
      val firstRow = rows.head
      var valueSize = ""
      var valueIndex: Option[Int] = None
      find("TEXT_SMALL").foreach { i => valueSize = "small"; valueIndex = Some(i) }
      if (valueSize.isEmpty) find("TEXT_MEDIUM").foreach { i => valueSize = "medium"; valueIndex = Some(i) }
      if (valueSize.isEmpty) find("TEXT_LARGE").foreach { i => valueSize = "large"; valueIndex = Some(i) }
      if (firstRow.length == 1) {
        return RenderInfo("value", labelValue, valueSize = valueSize, valueIndex = valueIndex)
      }
      val compare = find("COMPARE")
      if (compare.isDefined && firstRow.length == 2) {
        return RenderInfo("value", labelValue, compareIndex = compare,
          valueSize = valueSize, valueIndex = valueIndex)
      }
    }

    RenderInfo("table", labelValue, trendIndex = findAllColumnsByTag(schema, "TREND"))
  }

  // ---- gauge assembly (ref: get_dashboard.go:1109-1232) ---------------

  private def rangeToDouble(v: Any): Double =
    asDouble(v).getOrElse(intervalMillis(v).toDouble)

  private def lessThanTwoUniqueRangeValues(r: Seq[Any]): Boolean = {
    if (r.length < 2) return true
    val unique = scala.collection.mutable.Set.empty[Double]
    r.foreach { v =>
      asDouble(v) match {
        case Some(d) => unique += d
        case None =>
          if (isIntervalValue(v)) unique += intervalMillis(v).toDouble
          else return true
      }
      if (unique.size >= 2) return false
    }
    true
  }

  def gaugeCategories(schema: Seq[StructField], row: Row, gaugeIndex: Int,
      isGaugePercent: Boolean): Seq[GaugeCategory] = {
    def arrAt(tag: String): Seq[Any] =
      findColumnByTag(schema, tag).map { i =>
        unwrap(row.get(i)) match {
          case s: scala.collection.Seq[_] => s.toSeq
          case _ => Nil
        }
      }.getOrElse(Nil)

    var rangeArr: Seq[Any] = arrAt("RANGE")
    if (lessThanTwoUniqueRangeValues(rangeArr)) {
      // default-range heuristics (single value / interval ⇒ 1h /
      // percent ⇒ [0,1] / next power of 10), ported exactly
      var gaugeValue = 0.0
      var isInterval = false
      var singleValue = 0.0
      var hasSingleValue = false
      if (rangeArr.length == 1) {
        asDouble(rangeArr.head) match {
          case Some(d) => singleValue = d; hasSingleValue = true
          case None => if (isIntervalValue(rangeArr.head)) {
            singleValue = intervalMillis(rangeArr.head).toDouble; hasSingleValue = true
          }
        }
      }
      unwrap(row.get(gaugeIndex)) match {
        case n: java.lang.Number => gaugeValue = n.doubleValue()
        case v if isIntervalValue(v) => isInterval = true
        case _ =>
      }
      rangeArr =
        if (hasSingleValue && singleValue > 0 && gaugeValue >= 0) Seq(0.0, singleValue)
        else if (isInterval) Seq(0.0, 60.0 * 60 * 1000)
        else if (isGaugePercent && gaugeValue >= 0 && gaugeValue <= 1) Seq(0.0, 1.0)
        else {
          val absValue = math.abs(gaugeValue)
          val nextPower = if (absValue > 0) math.pow(10, math.ceil(math.log10(absValue))) else 10.0
          if (gaugeValue < 0) Seq(-nextPower, nextPower)
          else if (gaugeValue > 0) Seq(0.0, nextPower)
          else Seq(0.0, 10.0)
        }
    }
    val labelsArr = arrAt("LABELS")
    val colorsArr = arrAt("COLORS")
    val cats = Seq.newBuilder[GaugeCategory]
    var from = rangeToDouble(rangeArr.head)
    var i = 1
    while (i < rangeArr.length) {
      val to = rangeToDouble(rangeArr(i))
      val label = if (labelsArr.length >= i) labelsArr(i - 1) match {
        case s: String => s
        case _ => ""
      } else ""
      val color = if (colorsArr.length >= i) colorsArr(i - 1) match {
        case s: String => s
        case _ => ""
      } else ""
      cats += GaugeCategory(from, to, label, color)
      from = to
      i += 1
    }
    cats.result()
  }

  // ---- tags (ref: mapTag, get_dashboard.go:535-608) -------------------

  def mapTag(index: Int, r: RenderInfo): String = {
    val chartTypes = Set("linechart", "scatterplot", "barchartHorizontal",
      "barchartHorizontalStacked", "barchartVertical", "barchartVerticalStacked",
      "boxplot", "piechart", "donutchart")
    if (chartTypes.contains(r.tpe)) {
      if (r.indexAxis.contains(index)) return "index"
      if (r.valueAxis.contains(index)) return "value"
      if (r.category.contains(index)) return "category"
      if (r.color.contains(index)) return "color"
      if (r.bandLower.contains(index)) return "band_lower"
      if (r.bandUpper.contains(index)) return "band_upper"
    }
    if (r.tpe == "dropdown" || r.tpe == "dropdownMulti") {
      if (r.valueIndex.contains(index)) return "value"
      if (r.labelIndex.contains(index)) return "label"
      if (r.hintIndex.contains(index)) return "hint"
    }
    if (r.tpe == "datepicker" && r.valueIndex.contains(index)) return "default"
    if (r.tpe == "daterangePicker") {
      if (r.fromIndex.contains(index)) return "defaultFrom"
      if (r.toIndex.contains(index)) return "defaultTo"
    }
    if (r.download.nonEmpty && !r.downloadIdIndex.contains(index)) return "download"
    if (r.tpe == "gauge" && r.valueAxis.contains(index)) return "value"
    if (r.tpe == "input" && r.hintIndex.contains(index)) return "hint"
    if (r.tpe == "value") {
      if (r.compareIndex.contains(index)) return "compare"
      if (r.valueSize.nonEmpty && (r.valueIndex.isEmpty || r.valueIndex.contains(index)))
        return r.valueSize
      return "value"
    }
    if (r.trendIndex.contains(index)) return "trend"
    ""
  }

  // ---- mark lines (ref: getMarkLines, get_dashboard.go:795-852) -------

  def getMarkLines(schema: Seq[StructField], rows: Seq[Row]): Option[Seq[MarkLine]] = {
    val (axis, valueIndex) = findColumnByTag(schema, "XLINE") match {
      case Some(i) => ("x", i)
      case None => findColumnByTag(schema, "YLINE") match {
        case Some(i) => ("y", i)
        case None => return None
      }
    }
    val member = shaperTypeOf(schema(valueIndex)).map(_._2).getOrElse("")
    val labelIndex = findColumnByTag(schema, "LABEL")
    val lines = Seq.newBuilder[MarkLine]
    rows.foreach { row =>
      if (valueIndex < row.length) {
        val v = unwrap(row.get(valueIndex))
        if (v != null) {
          val valueOpt: Option[Any] = v match {
            case s: String => Some(s)
            case n: java.lang.Number =>
              val d = n.doubleValue()
              if (d.isNaN || d.isInfinite) None else Some(d)
            case other if isIntervalValue(other) => Some(intervalMillis(other))
            case other => toLocalDateTime(other) match {
              case Some(t) =>
                if (member.endsWith("_time")) Some(timeOfDayMillis(t))
                else epochMillis(other)
              case None => None
            }
          }
          valueOpt.foreach { value =>
            val label = labelIndex.flatMap { li =>
              if (li < row.length) Option(unwrap(row.get(li))).collect { case s: String => s }
              else None
            }.getOrElse("")
            lines += MarkLine(value, label, isYaxis = axis == "y")
          }
        }
      }
    }
    Some(lines.result())
  }

  // ---- singles / reload (ref: get_dashboard.go:2109-2184) -------------

  def getSingleValue(rows: Seq[Row]): String =
    rows.headOption.flatMap(r =>
      if (r.length == 0) None
      else Option(unwrap(r.get(0))).collect { case s: String => s }).getOrElse("")

  /** RELOAD/SCHEDULE time: interval ⇒ now+Δ, timestamp ⇒ epoch ms,
    * 'init' ⇒ -1, else 0. */
  def getScheduleTime(rows: Seq[Row], nowMillis: () => Long): Long = {
    val v = rows.headOption.flatMap(r => if (r.length == 0) None else Option(unwrap(r.get(0))))
    v match {
      case Some(x) if isIntervalValue(x) => nowMillis() + intervalMillis(x)
      case Some(x) => epochMillis(x).getOrElse(
        x match {
          case s: String if s.toLowerCase == "init" => -1L
          case _ => 0L
        })
      case None => 0L
    }
  }

  // ---- row serialization (ref: get_dashboard.go:287-355, 2268-2317) ---

  /** Serialize one query's rows to JSON-ready values; returns
    * (rows, minTime, maxTime observed on index-tagged columns). */
  def serializeRows(schema: Seq[StructField], columns: Seq[ColumnSpec],
      rows: Seq[Row]): (Seq[Seq[Any]], Long, Long) = {
    var minTime = Long.MaxValue
    var maxTime = 0L
    val isShaperTime: Int => Boolean = i =>
      shaperTypeOf(schema(i)).exists(_._2.endsWith("_time"))
    val out = rows.map { row =>
      columns.indices.map { i =>
        val colType = columns(i).colType
        val cell = unwrap(row.get(i))
        cell match {
          case null => null
          case t if toLocalDateTime(t).isDefined && (t.isInstanceOf[java.sql.Timestamp] ||
              t.isInstanceOf[LocalDateTime] || t.isInstanceOf[java.time.Instant] ||
              t.isInstanceOf[java.sql.Date] || t.isInstanceOf[java.time.LocalDate]) =>
            if (colType == "time" || isShaperTime(i))
              timeOfDayMillis(toLocalDateTime(t).get)
            else {
              val ms = epochMillis(t).get
              if (columns(i).tag == "index") {
                if (ms > maxTime) maxTime = ms
                else if (ms < minTime) minTime = ms
              }
              if (colType == "string") ms.toString else ms
            }
          case d: java.lang.Double =>
            if (d.isNaN) null
            else if (colType == "string") numberToString(d)
            else d
          case f: java.lang.Float =>
            if (f.isNaN) null
            else if (colType == "string") numberToString(f.toDouble)
            else f.toDouble
          case v if isIntervalValue(v) && colType == "duration" => intervalMillis(v)
          case arr: scala.collection.Seq[_] if colType == "stringArray" =>
            arr.map(String.valueOf).mkString(", ")
          case d: java.math.BigDecimal if colType == "number" => d.doubleValue()
          case d: scala.math.BigDecimal if colType == "number" => d.toDouble
          case v if colType == "object" => plainify(v)
          case b: Array[Byte] => new String(b, java.nio.charset.StandardCharsets.UTF_8)
          case other => other
        }
      }
    }
    (out, minTime, maxTime)
  }

  /** Recursive conversion of nested structs/maps/unions to plain JSON-able
    * values (ref: duckMapToMap, get_dashboard.go:2268-2317). */
  def plainify(v: Any): Any = v match {
    case null => null
    case r: Row =>
      val schema = r.schema
      if (schema != null)
        schema.fieldNames.zipWithIndex.map { case (n, i) => n -> plainify(r.get(i)) }.toMap
      else r.toSeq.map(plainify)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => String.valueOf(k) -> plainify(x) }.toMap
    case s: scala.collection.Seq[_] => s.map(plainify).toList
    case d: java.math.BigDecimal => d.doubleValue()
    case d: scala.math.BigDecimal => d.toDouble
    case x if isIntervalValue(x) => intervalMillis(x)
    case t if epochMillis(t).isDefined &&
        (t.isInstanceOf[java.sql.Timestamp] || t.isInstanceOf[java.sql.Date]) =>
      epochMillis(t).get
    case other => other
  }
}
