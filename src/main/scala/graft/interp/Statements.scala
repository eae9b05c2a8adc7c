package graft.interp

import graft.interp.Dashboard.{QueryMaxRows, VarStore}
import graft.sqlfront.{Dialect, Macros, PivotStmt, SqlText}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.types.StructField

import java.time.format.DateTimeFormatter
import scala.collection.mutable

/** The one statement path of every request: dashboard renders
  * ([[Dashboard]]), downloads ([[Download]]), tasks (`graft.tasks.Tasks`)
  * and `/api/sql` ([[SqlApi]]). In shaper every statement of a dashboard
  * or task runs on one DuckDB connection, so a statement form means the
  * same thing wherever it appears; here each caller keeps only its own
  * fold over the statements (sections and labels, the download target,
  * the task gate and SCHEDULE) and takes these steps from one place:
  *  - [[request]]: a fresh session (`graft.Sessions.request`, born
  *    with the shaper types, `BOXPLOT`, `len` and the engine's rules)
  *    with the caller's `prepare` run, a variable store, a macro store
  *    and the request's temp tables, released when the request ends.
  *    The session's state (SQL conf, catalog, registry) is built on first
  *    need: by `prepare` if it touches the session, a side effect, a
  *    compile, or a text lookup that does not answer. A request whose
  *    every statement is a text hit builds none;
  *  - [[split]]: comments stripped, statements split and trimmed;
  *  - [[Request.sideEffect]]: `CREATE MACRO`, `SET`/`RESET VARIABLE` and
  *    `CREATE TEMP TABLE/VIEW … AS`, applied to the request's state;
  *  - [[Request.compile]]: macro expansion, the `duckdb_*` catalog views,
  *    then `SUMMARIZE`, `PIVOT` or the dialect rewrite with the request's
  *    variables substituted as literals (the rewrite's passes run once
  *    per statement text; a request binds its variables into the
  *    memoized template, `Dialect.Templates`);
  *  - [[Request.query]]: compile and collect in one step. A statement's
  *    rewritten text is looked up in [[ResultCache]] before Spark parses
  *    it; `SUMMARIZE`, `PIVOT`, a read of the `duckdb_*` views, or a text
  *    the cache cannot answer, is compiled and collected;
  *  - [[Request.collect]]: a statement's schema and first
  *    `QueryMaxRows + 1` rows, reused from [[ResultCache]] while its plan
  *    and input files are unchanged.
  */
object Statements {

  /** `content`'s statements, comments stripped, each trimmed. A statement
    * that is empty (`;;`) is kept, so positions match the source. */
  def split(content: String): Either[String, Seq[String]] =
    SqlText.splitQueries(SqlText.stripComments(content)).map(_.map(_.trim))

  /** Run `body` in a fresh request whose store holds `variables`. */
  def request[A](spark: SparkSession, variables: Map[String, Any] = Map.empty,
      prepare: SparkSession => Unit = _ => (), cache: ResultCache = ResultCache.shared)(
      body: Request => A): A = {
    val req = new Request(graft.Sessions.request(spark), Dashboard.tokenVars(variables), cache)
    try {
      prepare(req.spark)
      body(req)
    } finally {
      req.tempTables.release()
      graft.Sessions.ended(req.spark)
    }
  }

  private val setVarStmt = "(?is)^SET\\s+VARIABLE\\s+\"?([a-zA-Z0-9_]+)\"?\\s*=\\s*(.+)$".r
  private val resetVarStmt = "(?is)^RESET\\s+VARIABLE\\s+\"?([a-zA-Z0-9_]+)\"?\\s*$".r
  private val createTemp =
    "(?is)^CREATE\\s+(?:OR\\s+REPLACE\\s+)?(?:TEMP|TEMPORARY)\\s+(TABLE|VIEW)\\s+(\\S+)\\s+AS\\s+(.+)$".r

  /** One request's session and state. Variables are kept on the driver
    * and substituted as rendered literals at rewrite time, the way shaper
    * prefixes statements with `SET VARIABLE` and reads them through
    * `getvariable()` (ref app.go:574-595); a literal also takes part in
    * constant folding and partition pruning. */
  final class Request private[Statements] (val spark: SparkSession, val store: VarStore,
      cache: ResultCache) {
    val macros = new Macros.MacroStore
    private[Statements] val tempTables = new TempTables(spark)
    /** What text lookups have checked since the request last ran Spark
      * SQL; see [[running]]. */
    private val checks = new ResultCache.Checks

    /** `step`, which runs Spark SQL in the request's session or hands the
      * caller a statement to run there, then forget what text lookups
      * have checked: the statement may have written a table or made a
      * function. Every step of a request but a text hit goes through
      * here, so a check is only reused between text hits. */
    private def running[A](step: => A): A = try step finally checks.clear()

    /** Apply a statement this step owns to the request's state; false for
      * any other statement, which the caller handles. */
    def sideEffect(sql: String): Boolean = sql match {
      case _ if Macros.isCreateMacro(sql) =>
        Macros.parseCreate(sql).foreach(macros.define)
        true
      case setVarStmt(name, expr) =>
        val v = running(spark.sql(s"SELECT (${rewrite(Macros.expand(expr, macros))}) AS v")
          .collect().headOption.map(_.get(0)).orNull)
        v match {
          case s: scala.collection.Seq[_] =>
            store.multiVars(name) = s.map(String.valueOf).toSeq
            store.singleVars.remove(name)
          case other =>
            store.singleVars(name) = renderLiteral(other)
            store.multiVars.remove(name)
        }
        true
      case resetVarStmt(name) =>
        store.singleVars.remove(name)
        store.multiVars.remove(name)
        true
      case createTemp(kind, name, body) => running {
        // TEMP TABLE ⇒ materialized rows; TEMP VIEW ⇒ a view, re-evaluated
        // by every statement that reads it
        val df = spark.sql(rewrite(Macros.expand(body, macros)))
        val clean = name.stripPrefix("\"").stripSuffix("\"")
        if (kind.equalsIgnoreCase("TABLE")) tempTables.create(clean, df)
        else df.createOrReplaceTempView(clean)
        true
      }
      case _ => false
    }

    /** The statement's DataFrame. Macros are expanded first, so a
      * `duckdb_*` reference inside a macro body still refreshes the
      * catalog views. */
    def compile(sql: String): DataFrame = running(dataFrame(Macros.expand(sql, macros)))

    /** [[collect]] of [[compile]], except that a plain query's rewritten
      * text is looked up before Spark parses it ([[ResultCache.query]]). */
    def query(sql: String): (Seq[StructField], Seq[Row]) = {
      val expanded = Macros.expand(sql, macros)
      val (schema, rows) =
        if (plain(expanded))
          cache.query(spark, rewrite(expanded), QueryMaxRows + 1, checks)(text => running(spark.sql(text)))
        else running(cache.collect(dataFrame(expanded), QueryMaxRows + 1))
      (schema.fields.toSeq, rows)
    }

    /** Whether Spark runs the statement as its rewritten text: anything
      * but `SUMMARIZE`, `PIVOT` or a read of the `duckdb_*` views. */
    private def plain(expanded: String): Boolean =
      !graft.catalog.CatalogFunctions.referenced(expanded) &&
        !expanded.toUpperCase.startsWith("SUMMARIZE") && !PivotStmt.isPivotStatement(expanded)

    /** The statement's DataFrame, with the `duckdb_*` views refreshed
      * first when it reads them. */
    private def dataFrame(expanded: String): DataFrame = {
      if (graft.catalog.CatalogFunctions.referenced(expanded))
        graft.catalog.CatalogFunctions.refresh(spark)
      if (expanded.toUpperCase.startsWith("SUMMARIZE")) summarize(expanded)
      else if (PivotStmt.isPivotStatement(expanded)) PivotStmt.execute(spark, rewrite(expanded))
      else spark.sql(rewrite(expanded))
    }

    /** `sql` with the request's macros expanded and its variables
      * substituted as literals, for a statement the caller runs itself
      * rather than through [[compile]] (a task's UPDATE/DELETE). */
    def bind(sql: String): String =
      running(Dialect.substituteVariables(Macros.expand(sql, macros), store.render))

    /** A query's schema and first `QueryMaxRows + 1` rows (the reference
      * keeps cap+1 rows: append-then-check loop, get_dashboard.go:23). The
      * rows may be shared with other requests: copy before changing a
      * cell. */
    def collect(df: DataFrame): (Seq[StructField], Seq[Row]) = {
      val (schema, rows) = cache.collect(df, QueryMaxRows + 1)
      (schema.fields.toSeq, rows)
    }

    private def rewrite(sql: String): String = Dialect.rewrite(sql, store.render)

    /** `SUMMARIZE t` / `SUMMARIZE SELECT ...` → per-column stats, one pass
      * over the data (single aggregate job), pivoted driver-side into the
      * DuckDB-shaped (column_name, column_type, min, max, approx_unique,
      * avg, std, q25, q50, q75, count, null_percentage) rows. */
    private def summarize(sql: String): DataFrame = {
      import org.apache.spark.sql.functions._
      val rest = sql.substring("SUMMARIZE".length).trim
      val df =
        if (rest.toUpperCase.startsWith("SELECT") || rest.toUpperCase.startsWith("FROM") ||
            rest.startsWith("("))
          spark.sql(rewrite(rest))
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
  }

  private def renderLiteral(v: Any): String = v match {
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

  /** A request's `CREATE TEMP TABLE`s. One whose rows fit in
    * `TempTableMaxRows` and `TempTableMaxBytes` becomes local data in the
    * request's own session, visible to nothing else and, as local data,
    * keyed by its rows in [[ResultCache]]. A larger one is cached in
    * executor storage, which every session's `CacheManager` shares, and
    * `release` uncaches it when the request ends, so no request leaves
    * data behind that another request's plan could pick up. */
  private final class TempTables(spark: SparkSession) {
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
}
