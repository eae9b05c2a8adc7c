package graft.interp

import graft.export.Export
import graft.render.Render
import graft.sqlfront.Gate
import org.apache.spark.sql.SparkSession

import java.io.Writer

/** Dashboard download execution: resolve the target statement for a
  * csv/xlsx/json download, replay the statements *before* it in
  * collect-vars-only mode (so dropdown defaults and URL params populate
  * variables exactly as in a render), then stream the target through
  * the requested writer (ref: server/core/stream_query.go:69-334,
  * 737-816 — ops #28-31). Replayed statements and the target take the
  * same steps as a render's ([[Statements]]), so every statement form a
  * render accepts (SUMMARIZE, PIVOT, `duckdb_*` catalog functions,
  * macros, variables, temp tables) downloads too.
  */
object Download {

  /** Run a dashboard download end-to-end. `queryId` overrides target
    * resolution (the reference's query_id param). */
  def run(spark: SparkSession, content: String, format: String, out: Writer,
      queryId: Option[Int] = None,
      queryParams: Map[String, Seq[String]] = Map.empty,
      variables: Map[String, Any] = Map.empty,
      prepare: SparkSession => Unit = _ => (),
      /** Binary sink for the xlsx writer (POI writes a zip container, so
        * a character Writer can't carry it). */
      binOut: java.io.OutputStream = null): Either[String, Unit] =
    Statements.request(spark, variables, prepare)(
      download(_, content, format, out, queryId, queryParams, variables, binOut))

  private def download(req: Statements.Request, content: String, format: String, out: Writer,
      queryId: Option[Int], queryParams: Map[String, Seq[String]], variables: Map[String, Any],
      binOut: java.io.OutputStream): Either[String, Unit] = {
    val sqls = Statements.split(content) match {
      case Right(q) => q
      case Left(err) => return Left(err)
    }
    val target = queryId match {
      case Some(id) if id >= 0 && id < sqls.length => id
      case Some(id) => return Left(s"query_id $id out of range")
      case None => Export.resolveDownloadQueryID(sqls, format) match {
        case Right(i) => i
        case Left(err) => return Left(err)
      }
    }

    // vars-before-download replay: run the preceding statements purely to
    // collect variables, honoring the skip-after-download-button rule.
    // Every statement — replayed or skipped — must pass the SQL gate, and
    // query errors abort the download (ref: stream_query.go:752-816).
    var nextIsDownload = false
    for ((sqlString, i) <- sqls.take(target).zipWithIndex if sqlString.nonEmpty) {
      val queryIndex = i + 1
      if (!Gate.isAllowedStatement(sqlString))
        return Left(s"disallowed SQL statement in query $queryIndex")
      if (nextIsDownload) {
        nextIsDownload = false
      } else if (Gate.isSideEffect(sqlString)) {
        // SET VARIABLE / CREATE TEMP MACRO etc. must still apply
        req.sideEffect(sqlString)
      } else {
        try {
          val (schema, rows) = req.query(sqlString)
          // the reference reads ALL rows here (stream_query.go:767-790
          // appends every row), but the rows feed only collectVars —
          // dropdown option/default extraction — and the render path
          // caps the same statements at QueryMaxRows anyway, so any
          // option visible in a render fits under the cap. Cap the
          // replay collect too: a huge widget query before a download
          // button must not materialize fully in the serving process
          // (deliberate divergence, logged when it engages). The replay
          // shares the render's result cache, so a download after a
          // render replays without running these statements again.
          if (rows.length > Dashboard.QueryMaxRows)
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"download var-replay truncated query $queryIndex at ${Dashboard.QueryMaxRows} rows")
          val rInfo = Render.getRenderInfo(schema, rows, "", Nil,
            () => System.currentTimeMillis())
          if (rInfo.download == "csv" || rInfo.download == "xlsx" || rInfo.download == "json")
            nextIsDownload = true
          val columns = schema.zipWithIndex.map { case (f, i) =>
            graft.render.Model.ColumnSpec(f.name, Render.mapColType(f, rows, i),
              f.nullable, Render.mapTag(i, rInfo))
          }
          Dashboard.collectVars(req.store, variables, rInfo.tpe, queryParams,
            columns, schema, rows)
        } catch {
          case e: Exception =>
            return Left(s"error in query $queryIndex: ${e.getMessage}")
        }
      }
    }

    val targetSql = sqls(target)
    if (!Gate.isAllowedStatement(targetSql))
      return Left(s"disallowed SQL statement in query ${target + 1}")
    val df = req.compile(targetSql)
    format match {
      case "csv" => Export.toCSV(df, out); Right(())
      case "json" => Export.toJSON(df, out); Right(())
      case "xlsx" if binOut != null => Export.toXLSX(df, binOut); Right(())
      case other => Left(s"unsupported writer format: $other (xlsx uses toXLSX(OutputStream))")
    }
  }
}

object DownloadAuth {
  /** Cross-dashboard PDF authorization (ref: ValidateDashboardDownload,
    * get_dashboard.go:402-520): a JWT scoped to SOURCE may download
    * TARGET as pdf iff rendering SOURCE — with the same query params
    * and claim variables — yields a pdf download button pointing at
    * TARGET. Rendering through the full interpreter gives the
    * reference's walk for free: section hiding, the skip-after-
    * download-button rule, variable collection, and the ID-column
    * indirection are all already applied by the time the button row
    * carries its synthesized `api/dashboards/<id>/download/…pdf` URL. */
  def validateDashboardDownload(spark: SparkSession, sourceContent: String,
      sourceId: String, targetId: String, filename: String,
      queryParams: Map[String, Seq[String]] = Map.empty,
      variables: Map[String, Any] = Map.empty,
      prepare: SparkSession => Unit = _ => ()): Boolean = {
    if (!filename.toLowerCase.endsWith(".pdf")) return false
    val r = Dashboard.run(spark, sourceContent, Dashboard.RunConfig(
      dashboardId = sourceId, queryParams = queryParams,
      variables = variables, prepare = prepare))
    // only the exact download the source renders is authorized — the
    // interpreter builds button URLs as
    // api/dashboards/<id>/download/<urlencoded base>.pdf, so pin the
    // whole path, not just the prefix
    val expected = s"api/dashboards/$targetId/download/" +
      java.net.URLEncoder.encode(filename.dropRight(".pdf".length),
        java.nio.charset.StandardCharsets.UTF_8) + ".pdf"
    r.sections.exists(_.queries.exists { q =>
      q.render.renderType == "button" &&
        q.columns.zipWithIndex.exists { case (c, i) =>
          c.tag == "download" && q.rows.headOption.exists { row =>
            row.lift(i).collect { case s: String => s }
              .exists(_.takeWhile(_ != '?') == expected)
          }
        }
    })
  }
}

/** `POST /api/download/:filename` — ad-hoc SQL download: the SQL
  * becomes a temporary dashboard and streams through the download path
  * with no explicit target (ref: handler/dashboard.go:592-700,
  * download_sql_test.go:54-200). Engine slice only: the request
  * validation (empty SQL, filename extension against the reference's
  * downloadFileTypes) and the download execution; HTTP/JWT/KV-URL
  * plumbing stays at the web layer. */
object DownloadApi {
  /** Extensions the reference admits (handler/dashboard.go:34-40);
    * pdf/png are whole-dashboard render formats served by
    * [[graft.render.Png]] via `GET /api/render/:id`, not row writers. */
  val allowedFileTypes: Set[String] = Set("pdf", "csv", "xlsx", "json")
  val engineFileTypes: Set[String] = Set("csv", "json")

  def runAdhoc(spark: SparkSession, sql: String, filename: String,
      out: Writer,
      variables: Map[String, Any] = Map.empty,
      prepare: SparkSession => Unit = _ => ()): Either[String, Unit] = {
    val trimmed = sql.trim
    if (trimmed.isEmpty) return Left("SQL is required")
    val fileType = filename.split("\\.") match {
      case parts if parts.length > 1 => parts.last.toLowerCase
      case _ => ""
    }
    if (!allowedFileTypes.contains(fileType)) return Left("Invalid file type")
    if (!engineFileTypes.contains(fileType))
      return Left(s"unsupported writer format: $fileType (xlsx uses toXLSX(OutputStream); pdf/png are render formats)")
    Download.run(spark, trimmed, fileType, out,
      variables = variables, prepare = prepare)
  }
}

/** `POST /api/validate` — dashboard validation run: executes the full
  * dashboard and reports valid/error/duration (ref:
  * handler/validate.go:25-70, op #47). Task validation is rejected like
  * the reference ("currently not supported"); unknown types error. */
object ValidateApi {
  final case class Result(valid: Boolean, error: Option[String], durationMs: Long)

  def validate(spark: SparkSession, tpe: String, sql: String,
      prepare: SparkSession => Unit = _ => ()): Either[String, Result] = tpe match {
    case "task" => Left("Task validation is currently not supported")
    case "dashboard" =>
      val start = System.nanoTime()
      def durMs = (System.nanoTime() - start) / 1000000L
      try {
        Dashboard.run(spark, sql,
          Dashboard.RunConfig(dashboardId = "validate", prepare = prepare))
        Right(Result(valid = true, None, durMs))
      } catch {
        case e: Exception => Right(Result(valid = false,
          Some(Option(e.getMessage).getOrElse(e.toString)), durMs))
      }
    case _ => Left("Invalid type. Must be 'dashboard' or 'task'")
  }
}

/** `POST /api/sql`: single-statement enforcement + gate + CSV stream
  * (ref: server/web/handler/sql.go:14-80). The statement is compiled as
  * a render's is ([[Statements]]). */
object SqlApi {
  def runSingleToCSV(spark: SparkSession, sql: String, out: Writer,
      variables: Map[String, Any] = Map.empty,
      prepare: SparkSession => Unit = _ => ()): Either[String, Unit] =
    Statements.request(spark, variables, prepare) { req =>
      Statements.split(sql).flatMap(_.filter(_.nonEmpty) match {
        case Seq(one) if Gate.isAllowedStatement(one) => Right(Export.toCSV(req.compile(one), out))
        case Seq(_) => Left("Disallowed SQL statement")
        case _ => Left("exactly one SQL statement required")
      })
    }
}
