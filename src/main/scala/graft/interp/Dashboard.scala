package graft.interp

import graft.render.{Model, Render}
import graft.render.Model._
import graft.render.Render._
import graft.sqlfront.{Dialect, Gate, Macros, SqlText}
import graft.types.ShaperTypes
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.types.StructField

import java.net.URLEncoder
import java.nio.charset.StandardCharsets
import java.time.format.DateTimeFormatter
import scala.collection.mutable

/** The dashboard interpreter: a fold over SQL statements with pending
  * state (nextLabel, nextMarkLines, hideNextContentSection,
  * nextIsDownload) producing a GetResult — the reference engine's actual
  * core (ref: server/core/get_dashboard.go:38-400).
  *
  * Spark specifics:
  *  - Each render runs in its own session (`graft.Sessions.request`):
  *    its own temp-view and function namespace, SQL conf and variable
  *    store, the Spark analog of shaper's fresh-connection-per-render
  *    policy (ref main.go:961-962). Renders share the executor class
  *    loader, so generated code compiled by one render is reused by the
  *    next.
  *  - Relational execution is entirely `spark.sql` — distributed,
  *    Catalyst-optimized; the interpreter only ever touches ≤3001
  *    collected rows per statement (row cap, ref get_dashboard.go:23).
  *  - A query statement's capped result is reused from [[ResultCache]]
  *    while its optimized plan, output schema, SQL conf and every input
  *    file (path, length, modification time) are unchanged, so a repeat
  *    render of unchanged data runs no Spark job. An aggregate over one
  *    Parquet table (`count`, `count(col)`, `min`, `max`, integral `sum`;
  *    Filter/Project below it, Filter/Project/Sort/Limit above) whose
  *    table only gained files since its last run is answered from its
  *    cached per-group state plus the new files, read on the driver, also
  *    with no Spark job ([[IncrementalAggregate]]). Always run in full:
  *    side effects (SET VARIABLE, temp views and tables, macros),
  *    statements with a nondeterministic expression, statements over a
  *    leaf other than files, local data or `range`, and every other
  *    statement whose input files changed. `now()` and `current_date` are
  *    folded before the key is taken, so they never match an older run.
  *  - `CREATE TEMP TABLE` materializes into the render's own session as
  *    local data, or, past a size bound, is cached in executor storage
  *    and uncached when the render ends ([[TempTables]]).
  *  - Variables: shaper prefixes statements with `SET VARIABLE` and
  *    reads them via `getvariable()` (ref app.go:574-595); we keep a
  *    driver-side store and substitute rendered literals at rewrite
  *    time — observably identical, and the substituted literal
  *    participates in Catalyst constant folding / partition pruning.
  */
object Dashboard {

  val QueryMaxRows = 3000

  final class VarStore {
    /** name → rendered SQL literal (e.g. `'x'`, `DATE '2026-01-01'`). */
    val singleVars: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
    /** name → raw string values (VARCHAR[] variables). */
    val multiVars: mutable.LinkedHashMap[String, Seq[String]] = mutable.LinkedHashMap.empty

    def render(name: String): Option[String] =
      singleVars.get(name).orElse(multiVars.get(name).map(vs =>
        "array(" + vs.map(v => "'" + SqlText.escapeSQLString(v) + "'").mkString(",") + ")"))

    def isDefined(name: String): Boolean =
      singleVars.contains(name) || multiVars.contains(name)
  }

  /** variables → rendered var store (ref: getTokenVars,
    * get_dashboard.go:2065-2087). */
  def tokenVars(variables: Map[String, Any]): VarStore = {
    val store = new VarStore
    variables.foreach {
      case (k, v: String) =>
        store.singleVars(k) = "'" + SqlText.escapeSQLString(v) + "'"
      case (k, v: Seq[_]) =>
        val strs = v.map {
          case s: String => s
          case other => throw new IllegalArgumentException(
            s"invalid type in array for key $k: ${other.getClass.getSimpleName}")
        }
        store.multiVars(k) = strs
      case (k, other) => throw new IllegalArgumentException(
        s"unsupported type for key $k: ${if (other == null) "null" else other.getClass.getSimpleName}")
    }
    store
  }

  private val canStartSectionMarkers =
    Seq("SECTION", "DROPDOWN", "DATEPICKER", "DOWNLOAD_", "INPUT")

  /** (ref: canStartSection, get_dashboard.go:758-769) */
  def canStartSection(sql: String): Boolean = {
    val upper = sql.toUpperCase
    canStartSectionMarkers.exists(upper.contains)
  }

  private val setVarStmt = "(?is)^SET\\s+VARIABLE\\s+\"?([a-zA-Z0-9_]+)\"?\\s*=\\s*(.+)$".r
  private val resetVarStmt = "(?is)^RESET\\s+VARIABLE\\s+\"?([a-zA-Z0-9_]+)\"?\\s*$".r
  private val createTempView =
    "(?is)^CREATE\\s+(?:OR\\s+REPLACE\\s+)?(?:TEMP|TEMPORARY)\\s+(TABLE|VIEW)\\s+(\\S+)\\s+AS\\s+(.+)$".r

  final case class RunConfig(
      dashboardId: String = "",
      queryParams: Map[String, Seq[String]] = Map.empty,
      variables: Map[String, Any] = Map.empty,
      nowMillis: () => Long = () => System.currentTimeMillis(),
      /** Runs against the fresh per-render session before any statement —
        * register tables/views here (temp views are per-session). */
      prepare: SparkSession => Unit = _ => (),
      /** Where query statements' results are reused from. */
      cache: ResultCache = ResultCache.shared)

  def run(spark0: SparkSession, content: String, cfg: RunConfig = RunConfig()): GetResult = {
    // fresh namespace per render (temp views, registered functions)
    val spark = graft.Sessions.request(spark0)
    val tempTables = new TempTables(spark)
    try runIn(spark, content, cfg, tempTables) finally tempTables.release()
  }

  private def runIn(spark: SparkSession, content: String, cfg: RunConfig,
      tempTables: TempTables): GetResult = {
    ShaperTypes.register(spark)
    graft.exprs.Boxplot.register(spark)
    graft.exprs.Len.register(spark)
    cfg.prepare(spark)

    var nextLabel = ""
    var hideNextContentSection = false
    var nextIsDownload = false
    var nextMarkLines = Vector.empty[MarkLine]
    var reloadAt = 0L
    var headerImage = ""
    var footerLink = ""
    var minTimeValue = Long.MaxValue
    var maxTimeValue = 0L
    val sections = mutable.ArrayBuffer.empty[Section]

    val clean = SqlText.stripComments(content)
    val sqls = SqlText.splitQueries(clean) match {
      case Right(q) => q
      case Left(err) => throw new IllegalArgumentException(err)
    }

    val store = tokenVars(cfg.variables)
    val macros = new Macros.MacroStore
    val definedVars = mutable.Set.empty[String]
    definedVars ++= store.singleVars.keys
    definedVars ++= store.multiVars.keys
    val unsetVarsSeen = mutable.Set.empty[String]
    val unsetVariables = mutable.ArrayBuffer.empty[String]
    val downloadLinkParams = mutable.LinkedHashMap.empty[String, Vector[String]]

    for ((sqlString0, queryIndex) <- sqls.zipWithIndex) {
      val sqlString = sqlString0.trim
      if (sqlString.nonEmpty) {
        // unset-variable detection before substitution
        Dialect.referencedVariables(sqlString).foreach { name =>
          if (!definedVars.contains(name) && !unsetVarsSeen.contains(name)) {
            unsetVarsSeen += name
            unsetVariables += name
          }
        }
        Dialect.setVariableRegex.findAllMatchIn(sqlString).foreach(m => definedVars += m.group(1))

        if (!Gate.isAllowedStatement(sqlString))
          throw new IllegalArgumentException(s"Disallowed SQL statement in query ${queryIndex + 1}")

        if (nextIsDownload) {
          nextIsDownload = false
        } else if (hideNextContentSection && !Gate.isSideEffect(sqlString) &&
            !canStartSection(sqlString)) {
          // skipped: inside a hidden section
        } else if (Gate.isSideEffect(sqlString)) {
          runSideEffect(spark, sqlString, store, macros, tempTables)
        } else {
          val (schema, rows) = collectCapped(runQuery(spark, sqlString, store, macros), cfg.cache)

          def is1x1 = rows.length == 1 && rows.head.length == 1

          if (findColumnByTag(schema, "LABEL").isDefined && is1x1) {
            nextLabel = Option(unwrap(rows.head.get(0))).collect { case s: String => s }.getOrElse("")
          } else if (findColumnByTag(schema, "SECTION").isDefined && (rows.isEmpty || is1x1)) {
            if (sections.isEmpty || sections.last.sectionType != "header" ||
                sections.last.title.isDefined) {
              sections += new Section("header")
            }
            hideNextContentSection = false
            val lastSection = sections.last
            if (rows.isEmpty) {
              hideNextContentSection = true
            } else {
              val title = Option(unwrap(rows.head.get(0))).collect { case s: String => s }
              lastSection.title = title.filter(_.nonEmpty)
            }
          } else if (findColumnByTag(schema, "RELOAD").isDefined && (rows.isEmpty || is1x1)) {
            if (reloadAt != 0)
              throw new IllegalArgumentException(
                s"Multiple RELOAD queries in dashboard ${cfg.dashboardId}")
            reloadAt = getScheduleTime(rows, cfg.nowMillis)
          } else if (findColumnByTag(schema, "HEADER_IMAGE").isDefined && is1x1) {
            headerImage = getSingleValue(rows)
          } else if (findColumnByTag(schema, "FOOTER_LINK").isDefined && is1x1) {
            footerLink = getSingleValue(rows)
          } else getMarkLines(schema, rows) match {
            case Some(lines) =>
              nextMarkLines ++= lines
            case None =>
              val rInfo = getRenderInfo(schema, rows, nextLabel, nextMarkLines, cfg.nowMillis)
              if (rInfo.download == "csv" || rInfo.download == "xlsx" || rInfo.download == "json")
                nextIsDownload = true

              val columns = schema.zipWithIndex.map { case (f, i) =>
                ColumnSpec(f.name, mapColType(f, rows, i), f.nullable, mapTag(i, rInfo))
              }

              // download URL synthesis (ref: get_dashboard.go:202-269)
              val mutableRows: Seq[mutable.ArraySeq[Any]] =
                rows.map(r => mutable.ArraySeq.make(r.toSeq.toArray))
              if (rInfo.download.nonEmpty && mutableRows.nonEmpty) {
                columns.indices.foreach { colIndex =>
                  if (columns(colIndex).tag == "download") {
                    val filename = Option(unwrap(rows.head.get(colIndex)))
                      .collect { case s: String => s }.getOrElse("")
                    val linkParams =
                      if (rInfo.download == "pdf") {
                        if (cfg.queryParams.nonEmpty)
                          Seq("vars" -> base64Json(cfg.queryParams.view.mapValues(_.toVector).toMap))
                        else Nil
                      } else Seq(
                        "vars" -> base64Json(downloadLinkParams.toMap),
                        "query_id" -> (queryIndex + 1).toString)
                    val queryString =
                      if (linkParams.nonEmpty)
                        "?" + linkParams.map { case (k, v) =>
                          s"$k=${URLEncoder.encode(v, StandardCharsets.UTF_8)}"
                        }.mkString("&")
                      else ""
                    val id =
                      if (rInfo.download == "pdf")
                        rInfo.downloadIdIndex.map(i =>
                          Option(unwrap(rows.head.get(i)))
                            .collect { case s: String => s }.getOrElse(""))
                          .getOrElse(cfg.dashboardId)
                      else cfg.dashboardId
                    mutableRows.head(colIndex) =
                      s"api/dashboards/$id/download/${URLEncoder.encode(filename, StandardCharsets.UTF_8)}.${rInfo.download}$queryString"
                  }
                }
              }

              collectVars(store, cfg.variables, rInfo.tpe, cfg.queryParams, columns, schema, rows)
              definedVars ++= store.singleVars.keys
              definedVars ++= store.multiVars.keys
              collectDownloadLinkParams(downloadLinkParams, rInfo.tpe, cfg.queryParams,
                columns, schema, rows)

              val rowsForSer = mutableRows.map(ms => Row.fromSeq(ms.toSeq))
              val (serRows, mn, mx) = serializeRows(schema, columns, rowsForSer)
              if (mn < minTimeValue) minTimeValue = mn
              if (mx > maxTimeValue) maxTimeValue = mx

              val qOut = QueryOut(
                RenderSpec(rInfo.tpe, rInfo.label, rInfo.gaugeCategories, rInfo.markLines),
                columns, serRows)

              val wantedSectionType =
                if (Set("dropdown", "dropdownMulti", "button", "datepicker",
                  "daterangePicker", "input").contains(rInfo.tpe)) "header"
                else "content"
              if (sections.nonEmpty && sections.last.sectionType == wantedSectionType) {
                sections.last.queries += qOut
              } else {
                if (!hideNextContentSection || wantedSectionType != "content") {
                  val s = new Section(wantedSectionType)
                  s.queries += qOut
                  sections += s
                }
                if (wantedSectionType == "header") hideNextContentSection = false
              }
              nextLabel = ""
              nextMarkLines = Vector.empty
          }
        }
      }
    }

    val name = sections.headOption.flatMap(_.title).getOrElse("")
    GetResult(name, sections.toSeq, minTimeValue, maxTimeValue, reloadAt,
      if (headerImage.nonEmpty) Some(headerImage) else None,
      if (footerLink.nonEmpty) Some(footerLink) else None,
      unsetVariables.toSeq)
  }

  /** Validation endpoint semantics: run the full dashboard, report
    * (valid, durationMs, error) (ref: web/handler/validate.go:25-70). */
  def validate(spark: SparkSession, content: String,
      cfg: RunConfig = RunConfig()): (Boolean, Long, Option[String]) = {
    val t0 = System.nanoTime()
    try {
      run(spark, content, cfg)
      (true, (System.nanoTime() - t0) / 1000000, None)
    } catch {
      case e: Exception =>
        (false, (System.nanoTime() - t0) / 1000000,
          Some(Option(e.getMessage).getOrElse(e.toString)))
    }
  }

  // ---- execution -----------------------------------------------------

  private def base64Json(params: Map[String, Vector[String]]): String = {
    val json = params.toSeq.sortBy(_._1).map { case (k, vs) =>
      Model.jsonValue(k) + ":" + vs.map(Model.jsonValue).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    java.util.Base64.getEncoder.encodeToString(json.getBytes(StandardCharsets.UTF_8))
  }

  /** A query statement's schema and first `QueryMaxRows + 1` rows (the
    * reference keeps cap+1 rows: append-then-check loop), reused from
    * [[ResultCache]] while the plan and its input files are unchanged.
    * Also used by Download's collect-vars-only replay. The rows may be
    * shared with other renders: copy before changing a cell. */
  private[interp] def collectCapped(df: DataFrame,
      cache: ResultCache = ResultCache.shared): (Seq[StructField], Seq[Row]) = {
    val (schema, rows) = cache.collect(df, QueryMaxRows + 1)
    (schema.fields.toSeq, rows)
  }

  /** A request's `CREATE TEMP TABLE`s. One whose rows fit in
    * `TempTableMaxRows` and `TempTableMaxBytes` becomes local data in the
    * request's own session, visible to nothing else and, as local data,
    * keyed by its rows in [[ResultCache]]. A larger one is cached in
    * executor storage, which every session's `CacheManager` shares, and
    * `release` uncaches it when the request ends, so no request leaves
    * data behind that another request's plan could pick up. */
  private[interp] final class TempTables(spark: SparkSession) {
    private val cached = mutable.ArrayBuffer.empty[String]

    def create(name: String, df: DataFrame): Unit = {
      val rows = df.limit(TempTableMaxRows + 1).collect()
      val toRow = encoderFor(df.encoder).createSerializer()
      def bytes = rows.iterator.map(r => toRow(r).asInstanceOf[UnsafeRow].getSizeInBytes.toLong).sum
      if (rows.length <= TempTableMaxRows && bytes <= TempTableMaxBytes)
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema).createOrReplaceTempView(name)
      else {
        df.createOrReplaceTempView(name)
        spark.catalog.cacheTable(name)
        cached += name
      }
    }

    def release(): Unit = cached.distinct.foreach { name =>
      if (spark.catalog.tableExists(name) && spark.catalog.isCached(name)) spark.catalog.uncacheTable(name)
    }
  }

  /** Rows and bytes (as `UnsafeRow`s) of a temp table kept as local data:
    * it lives on the driver for the request and, inside statement plans,
    * in result-cache keys, so it must stay small beside the cache's
    * 64 MB budget. */
  private val TempTableMaxRows = 10000
  private val TempTableMaxBytes = 1L << 20

  /** Also used by Download's collect-vars-only replay. */
  private[interp] def runSideEffect(spark: SparkSession, sqlString: String, store: VarStore,
      macros: Macros.MacroStore, tempTables: TempTables): Unit =
    sqlString match {
      case _ if Macros.isCreateMacro(sqlString) =>
        Macros.parseCreate(sqlString).foreach(macros.define)
      case setVarStmt(name, expr) =>
        val rewritten = Dialect.rewrite(Macros.expand(expr, macros), store.render)
        val row = spark.sql(s"SELECT ($rewritten) AS v").collect().headOption
        val v = row.map(r => r.get(0)).orNull
        v match {
          case s: scala.collection.Seq[_] =>
            store.multiVars(name) = s.map(String.valueOf).toSeq
            store.singleVars.remove(name)
          case other =>
            store.singleVars(name) = renderLiteral(other)
            store.multiVars.remove(name)
        }
      case resetVarStmt(name) =>
        store.singleVars.remove(name)
        store.multiVars.remove(name)
      case createTempView(kind, viewName, body) =>
        // CREATE TEMP TABLE ⇒ materialized rows; TEMP VIEW ⇒ a view,
        // re-evaluated by every statement that reads it
        val rewritten = Dialect.rewrite(Macros.expand(body, macros), store.render)
        val df = spark.sql(rewritten)
        val clean = viewName.stripPrefix("\"").stripSuffix("\"")
        if (kind.equalsIgnoreCase("TABLE")) tempTables.create(clean, df)
        else df.createOrReplaceTempView(clean)
      case _ =>
        // USE / BEGIN / COMMIT / ROLLBACK / ABORT / CALL / ATTACH:
        // transactions are a no-op on Spark (documented divergence)
        ()
    }

  private[graft] def renderLiteral(v: Any): String = v match {
    case null => "NULL"
    case s: String => "'" + SqlText.escapeSQLString(s) + "'"
    case t: java.sql.Timestamp =>
      "TIMESTAMP '" + t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDateTime
        .format(DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")) + "'"
    case d: java.sql.Date => "DATE '" + d.toLocalDate + "'"
    case d: java.time.LocalDate => "DATE '" + d + "'"
    case b: java.lang.Boolean => b.toString
    case n: java.lang.Number => n.toString
    case other => "'" + SqlText.escapeSQLString(String.valueOf(other)) + "'"
  }

  private def runQuery(spark: SparkSession, sqlString0: String, store: VarStore,
      macros: Macros.MacroStore): DataFrame = {
    val sqlString = Macros.expand(sqlString0, macros)
    if (graft.catalog.CatalogFunctions.referenced(sqlString))
      graft.catalog.CatalogFunctions.refresh(spark)
    val upper = sqlString.toUpperCase
    if (upper.startsWith("SUMMARIZE")) summarize(spark, sqlString, store)
    else if (graft.sqlfront.PivotStmt.isPivotStatement(sqlString))
      graft.sqlfront.PivotStmt.execute(spark, Dialect.rewrite(sqlString, store.render))
    else spark.sql(Dialect.rewrite(sqlString, store.render))
  }

  /** `SUMMARIZE t` / `SUMMARIZE SELECT ...` → per-column stats, one pass
    * over the data (single aggregate job), pivoted driver-side into the
    * DuckDB-shaped (column_name, column_type, min, max, approx_unique,
    * avg, std, q25, q50, q75, count, null_percentage) rows. */
  private def summarize(spark: SparkSession, sqlString: String, store: VarStore): DataFrame = {
    import org.apache.spark.sql.functions._
    val rest = sqlString.substring("SUMMARIZE".length).trim
    val df =
      if (rest.toUpperCase.startsWith("SELECT") || rest.toUpperCase.startsWith("FROM") ||
          rest.startsWith("("))
        spark.sql(Dialect.rewrite(rest, store.render))
      else spark.table(rest)
    val fields = df.schema.fields
    val aggs = fields.flatMap { f =>
      val c = col("`" + f.name + "`")
      val isNum = f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]
      Seq(
        min(c).cast("string").as(s"${f.name}__min"),
        max(c).cast("string").as(s"${f.name}__max"),
        approx_count_distinct(c).as(s"${f.name}__uniq"),
        (if (isNum) avg(c).cast("string") else lit(null).cast("string")).as(s"${f.name}__avg"),
        (if (isNum) stddev_samp(c).cast("string") else lit(null).cast("string")).as(s"${f.name}__std"),
        (if (isNum) expr(s"percentile(`${f.name}`, 0.25)").cast("string") else lit(null).cast("string")).as(s"${f.name}__q25"),
        (if (isNum) expr(s"percentile(`${f.name}`, 0.5)").cast("string") else lit(null).cast("string")).as(s"${f.name}__q50"),
        (if (isNum) expr(s"percentile(`${f.name}`, 0.75)").cast("string") else lit(null).cast("string")).as(s"${f.name}__q75"),
        count(c).as(s"${f.name}__nonnull"),
        count(lit(1)).as(s"${f.name}__count"))
    }
    val r = df.agg(aggs.head, aggs.tail: _*).collect().head
    val out = fields.zipWithIndex.map { case (f, fi) =>
      val base = fi * 10
      val cnt = r.getLong(base + 9)
      val nonnull = r.getLong(base + 8)
      val nullPct =
        if (cnt == 0) 0.0
        else math.round((cnt - nonnull).toDouble / cnt * 10000).toDouble / 100
      (f.name, f.dataType.sql, r.getString(base), r.getString(base + 1),
        r.getLong(base + 2), r.getString(base + 3), r.getString(base + 4),
        r.getString(base + 5), r.getString(base + 6), r.getString(base + 7),
        cnt, nullPct)
    }
    import spark.implicits._
    out.toSeq.toDF("column_name", "column_type", "min", "max", "approx_unique",
      "avg", "std", "q25", "q50", "q75", "count", "null_percentage")
  }

  // ---- variable collection (ref: collectVars, get_dashboard.go:1511-1791)

  private def stringCell(rows: Seq[Row], rowIdx: Int, colIdx: Int): String =
    Option(unwrap(rows(rowIdx).get(colIdx))).collect { case s: String => s }.getOrElse("")

  private def isDateString(s: String): Boolean =
    try { java.time.LocalDate.parse(s); true } catch { case _: Exception => false }

  private def dateOfCell(rows: Seq[Row], rowIdx: Int, colIdx: Int): Option[String] =
    Option(unwrap(rows(rowIdx).get(colIdx))).flatMap(v =>
      Render.toLocalDateTime(v).map(_.toLocalDate.toString))

  def collectVars(store: VarStore, protectedVariables: Map[String, Any], renderType: String,
      queryParams: Map[String, Seq[String]], columns: Seq[ColumnSpec],
      schema: Seq[StructField], rows: Seq[Row]): Unit = {

    def colWithTag(tag: String): Option[(String, Int)] =
      columns.zipWithIndex.collectFirst { case (c, i) if c.tag == tag => (c.name, i) }

    renderType match {
      case "dropdown" =>
        val (name, idx) = colWithTag("value").getOrElse(
          throw new IllegalArgumentException("missing value column for dropdown"))
        if (protectedVariables.contains(name)) return
        var param = queryParams.get(name).flatMap(_.headOption).getOrElse("")
        if (param.nonEmpty) {
          val valid = rows.indices.exists(r => stringCell(rows, r, idx) == param)
          if (!valid) param = ""
        }
        if (param.isEmpty) {
          if (rows.isEmpty) return
          param = stringCell(rows, 0, idx)
        }
        store.singleVars(name) = "'" + SqlText.escapeSQLString(param) + "'"

      case "dropdownMulti" =>
        val (name, idx) = colWithTag("value").getOrElse(
          throw new IllegalArgumentException("missing value column for dropdownMulti"))
        if (protectedVariables.contains(name)) return
        var params = queryParams.getOrElse(name, Nil)
        val paramWasProvided = queryParams.contains(name)
        if (params.nonEmpty) {
          val valid = rows.indices.map(r => stringCell(rows, r, idx)).toSet
          params = params.filter(valid.contains)
        }
        if (params.isEmpty && !paramWasProvided) {
          params = rows.indices.map(r => stringCell(rows, r, idx))
        }
        store.multiVars(name) = params.toVector

      case "datepicker" =>
        if (rows.isEmpty) return
        val (name, idx) = colWithTag("default").getOrElse(
          throw new IllegalArgumentException("missing datepicker column"))
        if (protectedVariables.contains(name)) return
        var param = queryParams.get(name).flatMap(_.headOption).getOrElse("")
        if (param.isEmpty) param = dateOfCell(rows, 0, idx).getOrElse("")
        else if (!isDateString(param))
          throw new IllegalArgumentException(
            s"invalid date for datepicker query param '$name': $param")
        if (param.nonEmpty)
          store.singleVars(name) = "DATE '" + SqlText.escapeSQLString(param) + "'"

      case "daterangePicker" =>
        if (rows.isEmpty) return
        val (fromName, fromIdx) = colWithTag("defaultFrom").getOrElse(
          throw new IllegalArgumentException("missing DATEPICKER_FROM column"))
        val (toName, toIdx) = colWithTag("defaultTo").getOrElse(
          throw new IllegalArgumentException("missing DATEPICKER_TO column"))
        if (protectedVariables.contains(fromName) || protectedVariables.contains(toName)) return
        var fromParam = queryParams.get(fromName).flatMap(_.headOption).getOrElse("")
        if (fromParam.isEmpty) fromParam = dateOfCell(rows, 0, fromIdx).getOrElse("")
        else if (!isDateString(fromParam))
          throw new IllegalArgumentException(
            s"invalid date for datepicker query fromParam '$fromName': $fromParam")
        if (fromParam.nonEmpty)
          store.singleVars(fromName) = "TIMESTAMP '" + SqlText.escapeSQLString(fromParam) + "'"
        var toParam = queryParams.get(toName).flatMap(_.headOption).getOrElse("")
        if (toParam.isEmpty) toParam = dateOfCell(rows, 0, toIdx).getOrElse("")
        else if (!isDateString(toParam))
          throw new IllegalArgumentException(
            s"invalid date for datepicker query toParam '$toName': $toParam")
        if (toParam.nonEmpty)
          store.singleVars(toName) =
            "TIMESTAMP '" + SqlText.escapeSQLString(toParam) + " 23:59:59.999999'"

      case "input" =>
        val name = columns.collectFirst { case c if c.tag == "hint" => c.name }.getOrElse(
          throw new IllegalArgumentException("missing hint column for input"))
        if (protectedVariables.contains(name)) return
        val param = queryParams.get(name).flatMap(_.headOption).getOrElse("")
        if (param.nonEmpty)
          store.singleVars(name) = "'" + SqlText.escapeSQLString(param) + "'"

      case _ => ()
    }
  }

  /** (ref: collectDownloadLinkParams, get_dashboard.go:1794-2058 — same
    * walk as collectVars but collecting raw URL params, no protected-var
    * handling.) */
  def collectDownloadLinkParams(out: mutable.LinkedHashMap[String, Vector[String]],
      renderType: String, queryParams: Map[String, Seq[String]],
      columns: Seq[ColumnSpec], schema: Seq[StructField], rows: Seq[Row]): Unit = {

    def colWithTag(tag: String): Option[(String, Int)] =
      columns.zipWithIndex.collectFirst { case (c, i) if c.tag == tag => (c.name, i) }

    renderType match {
      case "dropdown" =>
        val (name, idx) = colWithTag("value").getOrElse(return)
        var param = queryParams.get(name).flatMap(_.headOption).getOrElse("")
        if (param.nonEmpty && !rows.indices.exists(r => stringCell(rows, r, idx) == param))
          param = ""
        if (param.isEmpty) {
          if (rows.isEmpty) return
          param = stringCell(rows, 0, idx)
        }
        out(name) = out.getOrElse(name, Vector.empty) :+ param
      case "dropdownMulti" =>
        val (name, idx) = colWithTag("value").getOrElse(return)
        var params = queryParams.getOrElse(name, Nil)
        val provided = queryParams.contains(name)
        if (params.nonEmpty) {
          val valid = rows.indices.map(r => stringCell(rows, r, idx)).toSet
          params = params.filter(valid.contains)
        }
        if (params.isEmpty && !provided)
          params = rows.indices.map(r => stringCell(rows, r, idx))
        out(name) = out.getOrElse(name, Vector.empty) ++ params
      case "datepicker" =>
        if (rows.isEmpty) return
        val (name, idx) = colWithTag("default").getOrElse(return)
        var param = queryParams.get(name).flatMap(_.headOption).getOrElse("")
        if (param.isEmpty) param = dateOfCell(rows, 0, idx).getOrElse("")
        if (param.nonEmpty) out(name) = out.getOrElse(name, Vector.empty) :+ param
      case "daterangePicker" =>
        if (rows.isEmpty) return
        colWithTag("defaultFrom").foreach { case (name, idx) =>
          var p = queryParams.get(name).flatMap(_.headOption).getOrElse("")
          if (p.isEmpty) p = dateOfCell(rows, 0, idx).getOrElse("")
          if (p.nonEmpty) out(name) = out.getOrElse(name, Vector.empty) :+ p
        }
        colWithTag("defaultTo").foreach { case (name, idx) =>
          var p = queryParams.get(name).flatMap(_.headOption).getOrElse("")
          if (p.isEmpty) p = dateOfCell(rows, 0, idx).getOrElse("")
          if (p.nonEmpty) out(name) = out.getOrElse(name, Vector.empty) :+ p
        }
      case "input" =>
        val name = columns.collectFirst { case c if c.tag == "hint" => c.name }.getOrElse(return)
        val param = queryParams.get(name).flatMap(_.headOption).getOrElse("")
        if (param.nonEmpty) out(name) = out.getOrElse(name, Vector.empty) :+ param
      case _ => ()
    }
  }
}
