package graft.interp

import graft.render.{Model, Render}
import graft.render.Model._
import graft.render.Render._
import graft.sqlfront.{Dialect, Gate, SqlText}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructField

import java.net.URLEncoder
import java.nio.charset.StandardCharsets
import scala.collection.mutable

/** The dashboard interpreter: a fold over SQL statements with pending
  * state (nextLabel, nextMarkLines, hideNextContentSection,
  * nextIsDownload) producing a GetResult — the reference engine's actual
  * core (ref: server/core/get_dashboard.go:38-400).
  *
  * Every statement takes the one path renders share with downloads, tasks
  * and `/api/sql` ([[Statements]]): a fresh per-request session, the
  * side-effect step (macros, `SET`/`RESET VARIABLE`, `CREATE TEMP
  * TABLE/VIEW`), the compile step and the capped collect. This fold adds
  * only what a render means: LABEL/SECTION/RELOAD and the other tags,
  * hidden sections, variable collection from widgets and download-URL
  * synthesis.
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
  *    with no Spark job ([[IncrementalAggregate]]). A statement over
  *    unpartitioned catalog tables (or none) whose rewritten text was seen
  *    before skips Spark's parse, analysis and optimization too: it is
  *    answered from its text while the catalog is unchanged, the render's
  *    session holds no temp view, cached data or added function, and
  *    its tables list the same files. Otherwise it falls back to analysis
  *    and takes the plan-keyed path. Always run in full:
  *    side effects (SET VARIABLE, temp views and tables, macros),
  *    statements with a nondeterministic expression or one that reads
  *    the clock (`now()`, `current_date`), statements over a leaf other
  *    than files, local data or `range`, and every other statement whose
  *    input files changed.
  *  - `CREATE TEMP TABLE` materializes into the render's own session as
  *    local data, or, past a size bound, is cached in executor storage
  *    and uncached when the render ends.
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

  def run(spark: SparkSession, content: String, cfg: RunConfig = RunConfig()): GetResult =
    Statements.request(spark, cfg.variables, cfg.prepare, cfg.cache)(runIn(_, content, cfg))

  private def runIn(req: Statements.Request, content: String, cfg: RunConfig): GetResult = {
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

    val sqls = Statements.split(content).fold(err => throw new IllegalArgumentException(err), identity)
    val store = req.store
    val definedVars = mutable.Set.empty[String]
    definedVars ++= store.singleVars.keys
    definedVars ++= store.multiVars.keys
    val unsetVarsSeen = mutable.Set.empty[String]
    val unsetVariables = mutable.ArrayBuffer.empty[String]
    val downloadLinkParams = mutable.LinkedHashMap.empty[String, Vector[String]]

    for ((sqlString, queryIndex) <- sqls.zipWithIndex) {
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

        val sideEffect = Gate.isSideEffect(sqlString)
        if (nextIsDownload) {
          nextIsDownload = false
        } else if (hideNextContentSection && !sideEffect && !canStartSection(sqlString)) {
          // skipped: inside a hidden section
        } else if (sideEffect) {
          // USE / BEGIN / COMMIT / ROLLBACK / ABORT / CALL / ATTACH are not
          // the side-effect step's: transactions are a no-op on Spark
          // (documented divergence)
          req.sideEffect(sqlString)
        } else {
          val (schema, rows) = req.query(sqlString)

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

  // ---- download URLs -------------------------------------------------

  private def base64Json(params: Map[String, Vector[String]]): String = {
    val json = params.toSeq.sortBy(_._1).map { case (k, vs) =>
      Model.jsonValue(k) + ":" + vs.map(Model.jsonValue).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    java.util.Base64.getEncoder.encodeToString(json.getBytes(StandardCharsets.UTF_8))
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
