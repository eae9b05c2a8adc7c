package graft

import graft.export.Export
import graft.interp.{Dashboard, Download, DownloadApi, SqlApi, ValidateApi}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.io.StringWriter

/** Download flow tests (stream_query_test.go:152-188 vars-before-download
  * + handler/sql_test.go:19-137 single-statement rule). */
class DownloadSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("download replays vars from dropdown defaults before target") {
    val content =
      """SELECT 'alpha'::DROPDOWN AS flavor UNION ALL SELECT 'beta'::DROPDOWN;
        |SELECT 'data.csv'::DOWNLOAD_CSV AS dl;
        |SELECT getvariable('flavor') AS chosen, 42 AS n;""".stripMargin
    val w = new StringWriter
    val r = Download.run(spark, content, "csv", w)
    assert(r.isRight)
    val lines = w.toString.split("\n")
    assert(lines(0) == "chosen,n")
    assert(lines(1) == "alpha,42") // dropdown default replayed into the var
  }

  test("var-replay caps the collect: a huge pre-download statement does not materialize fully") {
    // Download.scala divergence note: replayed statements feed ONLY
    // collectVars, so the collect is capped at QueryMaxRows+1 — a
    // 100k-row widget query before a download button must not pull all
    // 100k rows into the serving process. The per-row UDF counts how
    // many rows Spark actually evaluated for the replay collect.
    DlCapCounter.evaluated.set(0)
    val content =
      """SELECT dl_cap_touch(id) AS big FROM range(100000);
        |SELECT 'data.csv'::DOWNLOAD_CSV AS dl;
        |SELECT 7 AS n;""".stripMargin
    val w = new StringWriter
    // Download runs in a fresh newSession(), so the counting UDF rides
    // in through `prepare`; the counter is a JVM-global singleton
    // because Spark serializes UDF closures even on local[*] — an
    // instance capture would count on a deserialized copy
    val r = Download.run(spark, content, "csv", w,
      prepare = ss => ss.udf.register("dl_cap_touch",
        (id: Long) => { DlCapCounter.evaluated.incrementAndGet(); id }))
    assert(r.isRight, r)
    assert(w.toString.split("\n")(1) == "7")
    // CollectLimit evaluates a bounded prefix (per-partition slack is
    // fine); full materialization would be 100000, zero would mean the
    // counter never saw the executor
    val n = DlCapCounter.evaluated.get()
    assert(n > 0, "counter never engaged — instrumentation broken")
    assert(n < 50000, s"replay evaluated $n rows — the cap is not engaging")
  }

  test("macro defined before the download target expands in the replay AND the target") {
    val content =
      """CREATE TEMP MACRO tag(x) AS 'v:' || x;
        |SELECT 'm.csv'::DOWNLOAD_CSV AS dl;
        |SELECT tag('a') AS t, 7 AS n;""".stripMargin
    val w = new StringWriter
    val r = Download.run(spark, content, "csv", w)
    assert(r.isRight, r)
    val lines = w.toString.split("\n")
    assert(lines(0) == "t,n")
    assert(lines(1) == "v:a,7")
  }

  test("URL param (valid option) overrides dropdown default in download") {
    val content =
      """SELECT 'alpha'::DROPDOWN AS flavor UNION ALL SELECT 'beta'::DROPDOWN;
        |SELECT 'data.csv'::DOWNLOAD_CSV AS dl;
        |SELECT getvariable('flavor') AS chosen;""".stripMargin
    val w = new StringWriter
    Download.run(spark, content, "csv", w, queryParams = Map("flavor" -> Seq("beta")))
    assert(w.toString.split("\n")(1) == "beta")
  }

  test("JWT variable protected from URL override in download path too") {
    val content =
      """SELECT 'alpha'::DROPDOWN AS flavor UNION ALL SELECT 'evil'::DROPDOWN;
        |SELECT 'data.csv'::DOWNLOAD_CSV AS dl;
        |SELECT getvariable('flavor') AS chosen;""".stripMargin
    val w = new StringWriter
    Download.run(spark, content, "csv", w,
      queryParams = Map("flavor" -> Seq("evil")),
      variables = Map("flavor" -> "alpha"))
    assert(w.toString.split("\n")(1) == "alpha")
  }

  test("target resolution: DOWNLOAD_CSV marker points to next statement") {
    val content =
      """SELECT 'x'::DROPDOWN AS a;
        |SELECT 'f.csv'::DOWNLOAD_CSV;
        |SELECT 7 AS v;""".stripMargin
    val w = new StringWriter
    assert(Download.run(spark, content, "csv", w).isRight)
    assert(w.toString.contains("7"))
  }

  test("json download") {
    val w = new StringWriter
    Download.run(spark, "SELECT 'd.json'::DOWNLOAD_JSON;\nSELECT 1 AS a, 'x' AS b;", "json", w)
    assert(w.toString == """[{"a":1,"b":"x"}]""")
  }

  test("download gates every statement (stream_query.go:757-760)") {
    // disallowed statement in the replay prefix aborts the download
    val content =
      """DROP TABLE secrets;
        |SELECT 'data.csv'::DOWNLOAD_CSV AS dl;
        |SELECT 1 AS v;""".stripMargin
    val w = new StringWriter
    val r = Download.run(spark, content, "csv", w)
    assert(r == Left("disallowed SQL statement in query 1"))
    assert(w.toString.isEmpty)
    // disallowed TARGET statement is also rejected (queryId override path)
    val w2 = new StringWriter
    val r2 = Download.run(spark, "SELECT 1 AS a;\nDELETE FROM t;", "csv", w2,
      queryId = Some(1))
    assert(r2 == Left("disallowed SQL statement in query 2"))
    assert(w2.toString.isEmpty)
  }

  test("replay errors abort the download instead of being swallowed") {
    val content =
      """SELECT * FROM table_that_does_not_exist_xyz;
        |SELECT 'data.csv'::DOWNLOAD_CSV AS dl;
        |SELECT 1 AS v;""".stripMargin
    val w = new StringWriter
    val r = Download.run(spark, content, "csv", w)
    assert(r.isLeft && r.left.exists(_.startsWith("error in query 1")))
  }

  test("ad-hoc SQL download: validation + CSV stream (download_sql_test.go:54-200)") {
    val w = new StringWriter
    // valid SQL download
    val r = DownloadApi.runAdhoc(spark, "SELECT 1 as id, 'hello' as name", "test.csv", w)
    assert(r.isRight)
    assert(w.toString == "id,name\n1,hello\n")
    // invalid file type
    assert(DownloadApi.runAdhoc(spark, "SELECT 1", "test.exe", new StringWriter)
      == Left("Invalid file type"))
    // missing SQL
    assert(DownloadApi.runAdhoc(spark, "   ", "test.csv", new StringWriter)
      == Left("SQL is required"))
    // disallowed SQL still gated on the download path
    assert(DownloadApi.runAdhoc(spark, "DROP TABLE x", "test.csv", new StringWriter).isLeft)
  }

  test("dashboard validation run (validate_test.go:18-115)") {
    // valid dashboard
    val ok = ValidateApi.validate(spark, "dashboard", "SELECT 1")
    assert(ok.exists(r => r.valid && r.error.isEmpty))
    // invalid SQL: valid=false with an error message, not a failure
    val bad = ValidateApi.validate(spark, "dashboard", "SELECT * FROM non_existent_table")
    assert(bad.exists(r => !r.valid && r.error.exists(_.nonEmpty)))
    // task validation unsupported; unknown type rejected
    assert(ValidateApi.validate(spark, "task", "SELECT 1")
      == Left("Task validation is currently not supported"))
    assert(ValidateApi.validate(spark, "invalid", "SELECT 1").isLeft)
  }

  /** `t(id, g)`: six rows in two groups. */
  private def sixRows(ss: SparkSession): Unit =
    ss.range(6).selectExpr("id", "id % 2 AS g").createOrReplaceTempView("t")

  /** A render's last query as CSV lines: header, then its rows. */
  private def rendered(content: String): Seq[String] = {
    val q = Dashboard.run(spark, content, Dashboard.RunConfig(prepare = sixRows))
      .sections.flatMap(_.queries).last
    (q.columns.map(_.name) +: q.rows.map(_.map(Export.formatValue))).map(_.mkString(","))
  }

  /** The CSV lines of `content`'s download. */
  private def downloaded(content: String): Seq[String] = {
    val w = new StringWriter
    val r = Download.run(spark, content, "csv", w, prepare = sixRows)
    assert(r == Right(()), r)
    w.toString.split("\n").toSeq
  }

  private val catalogTable = "download_spec_catalog"
  private lazy val catalogTableCreated: Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $catalogTable")
    val loc = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"), catalogTable)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    spark.sql(s"CREATE TABLE $catalogTable USING parquet AS SELECT 1 AS x")
  }

  test("a download target of SUMMARIZE, PIVOT or a duckdb_* catalog function gives the rendered rows") {
    catalogTableCreated
    Seq("SUMMARIZE t",
      "PIVOT t ON g USING count(id)",
      s"SELECT table_name, database_name FROM duckdb_tables() WHERE table_name = '$catalogTable'")
      .foreach { target =>
        val shown = rendered(s"$target;")
        assert(shown.length > 1, s"$target rendered no rows")
        assert(downloaded(s"SELECT 'x.csv'::DOWNLOAD_CSV AS dl;\n$target;") == shown, target)
      }
  }

  test("a replayed duckdb_* statement before the download button sets its variable as in a render") {
    catalogTableCreated
    val widget = s"SELECT table_name::DROPDOWN AS tbl FROM duckdb_tables() WHERE table_name = '$catalogTable';"
    val target = "SELECT getvariable('tbl') AS chosen;"
    val shown = rendered(s"$widget\n$target")
    assert(shown == Seq("chosen", catalogTable))
    assert(downloaded(s"$widget\nSELECT 'x.csv'::DOWNLOAD_CSV AS dl;\n$target") == shown)
  }

  test("SqlApi: exactly one statement enforced (handler/sql_test.go:19-137)") {
    val w = new StringWriter
    assert(SqlApi.runSingleToCSV(spark, "SELECT 1 AS a; SELECT 2 AS b;", w).isLeft)
    assert(SqlApi.runSingleToCSV(spark, "DROP TABLE x", w).isLeft)
    val w2 = new StringWriter
    assert(SqlApi.runSingleToCSV(spark, "SELECT 1 AS a -- comment\n;", w2).isRight)
    assert(w2.toString.startsWith("a\n1"))
  }
}

/** JVM-global row counter for the cap test — see the in-test note on
  * closure serialization. */
object DlCapCounter {
  val evaluated = new java.util.concurrent.atomic.AtomicLong
}
