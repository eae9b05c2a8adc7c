package graft

import graft.interp.Dashboard
import graft.interp.Dashboard.RunConfig
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Dashboard interpreter tests transliterated from the reference suite
  * (server/core/get_dashboard_test.go:72-290). One divergence from the
  * reference, documented in SURVEY.md §7: Spark has no implicit
  * union-type coercion, so UNION ALL branches must each carry the
  * `::TYPE` cast (DuckDB coerces the untagged branch automatically).
  */
class DashboardSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("the reference README's front-page dashboard runs verbatim (README.md:11-18)") {
    // LABEL + date_trunc XAXIS + CATEGORY + zero-arg count() +
    // BARCHART_STACKED + trailing comma + GROUP/ORDER BY ALL — the
    // public showcase query, unmodified except the dataset view name
    val content =
      """SELECT 'Sessions per Week'::LABEL;
        |SELECT
        |  date_trunc('week', created_at)::XAXIS,
        |  category::CATEGORY,
        |  count()::BARCHART_STACKED,
        |FROM dataset
        |GROUP BY ALL ORDER BY ALL;""".stripMargin
    val r = graft.interp.Dashboard.run(spark, content, RunConfig(prepare = ss => {
      Tables.registerAll(ss, "/root/testdata/sf0.001")
      ss.sql("""CREATE OR REPLACE TEMP VIEW dataset AS
        SELECT ts AS created_at, event_type AS category FROM events""")
    }))
    val qs = r.sections.flatMap(_.queries)
    val chart = qs.find(_.render.renderType == "barchartHorizontalStacked")
      .getOrElse(fail(s"no stacked barchart rendered: ${qs.map(_.render.renderType)}"))
    assert(chart.render.label.contains("Sessions per Week"))
    assert(chart.columns.map(_.tag) == Seq("index", "category", "value"), chart.columns)
    assert(chart.rows.nonEmpty)
    // week buckets serialize as epoch-ms index values, ascending
    val idx = chart.rows.map(_.head.asInstanceOf[Long])
    assert(idx == idx.sorted)
  }

  test("the reference's starter template renders verbatim (ui/src/routes/new.tsx:48-61)") {
    // DuckDB-isms in one statement: trailing comma in the SELECT list,
    // trailing comma in VALUES, bare VALUES subquery with col0/col1 names
    val template =
      """SELECT 'Dashboard Title'::SECTION;
        |
        |SELECT 'Label'::LABEL;
        |SELECT 'Hello World';
        |
        |SELECT
        |  col0::XAXIS,
        |  col1::BARCHART,
        |FROM (
        |  VALUES
        |  (1, 10),
        |  (2, 20),
        |  (3, 30),
        |);""".stripMargin
    val r = Dashboard.run(spark, template)
    assert(r.sections.map(_.sectionType) == Seq("header", "content"))
    assert(r.sections.head.title.contains("Dashboard Title"))
    val qs = r.sections(1).queries
    assert(qs.length == 2) // 'Hello World' value + the barchart (LABEL attaches)
    assert(qs(0).render.label.contains("Label"))
    val chart = qs(1)
    // numeric (non-temporal) x-axis renders the horizontal variant,
    // same as the reference's decision tree
    assert(chart.render.renderType.startsWith("barchart"))
    assert(chart.rows.length == 3)
    assert(chart.rows.map(_.last) == Seq(10, 20, 30))
  }

  test("list comprehension executes end-to-end through the rewriter") {
    val r = Dashboard.run(spark,
      "SELECT [x * 10 FOR x IN [1, 2, 3] IF x < 3] AS l")
    assert(r.sections.head.queries.head.rows.head.head
      .asInstanceOf[scala.collection.Seq[Any]].toSeq == Seq(10, 20))
  }

  test("Basic query") {
    val r = Dashboard.run(spark, "SELECT 1 AS val")
    assert(r.sections.length == 1)
    assert(r.sections.head.queries.length == 1)
    assert(r.sections.head.queries.head.rows.length == 1)
    assert(r.sections.head.queries.head.rows.head.head == 1)
    assert(r.sections.head.queries.head.render.renderType == "value")
  }

  test("Linechart with confidence band (get_dashboard_test.go:106-129)") {
    val r = Dashboard.run(spark,
      """SELECT
        |  '2026-01-01'::TIMESTAMP::XAXIS AS ts,
        |  10.0::LINECHART AS val,
        |  8.0::BAND_LOWER AS confidence_lower,
        |  12.0::BAND_UPPER AS confidence_upper""".stripMargin)
    val q = r.sections.head.queries.head
    assert(q.render.renderType == "linechart")
    assert(q.columns(0).tag == "index")
    assert(q.columns(1).tag == "value")
    assert(q.columns(2).tag == "band_lower")
    assert(q.columns(3).tag == "band_upper")
  }

  test("Scatterplot (get_dashboard_test.go:131-154)") {
    val r = Dashboard.run(spark,
      """SELECT
        |  '2026-01-01'::TIMESTAMP::XAXIS AS ts,
        |  10.0::SCATTERPLOT AS val,
        |  'my-category'::SCATTERPLOT_CATEGORY AS cat,
        |  '#ff0000'::SCATTERPLOT_COLOR AS col""".stripMargin)
    val q = r.sections.head.queries.head
    assert(q.render.renderType == "scatterplot")
    assert(q.columns.map(_.tag) == Seq("index", "value", "category", "color"))
  }

  test("Query with variables") {
    val r = Dashboard.run(spark, "SELECT getvariable('myvar') AS val",
      RunConfig(variables = Map("myvar" -> "hello")))
    assert(r.sections.head.queries.head.rows.head.head == "hello")
  }

  test("SECURITY: query param must NOT overwrite JWT variable (get_dashboard_test.go:166-190)") {
    val content =
      """SELECT 'secure_val'::DROPDOWN AS myvar, 'Secure'::LABEL AS label
        |UNION ALL SELECT 'malicious_val'::DROPDOWN, 'Malicious'::LABEL;
        |SELECT getvariable('myvar') AS val;""".stripMargin
    val r = Dashboard.run(spark, content, RunConfig(
      variables = Map("myvar" -> "secure_val"),
      queryParams = Map("myvar" -> Seq("malicious_val"))))
    assert(r.sections.length == 2)
    assert(r.sections(1).queries.head.rows.head.head == "secure_val",
      "Secure variable was overwritten by query parameter!")
  }

  test("Variable precedence: normal query param still works") {
    val content =
      """SELECT 'val1'::DROPDOWN AS myvar, 'Val 1'::LABEL AS label
        |UNION ALL SELECT 'val2'::DROPDOWN, 'Val 2'::LABEL;
        |SELECT getvariable('myvar') AS val;""".stripMargin
    val r = Dashboard.run(spark, content, RunConfig(
      queryParams = Map("myvar" -> Seq("val2"))))
    assert(r.sections.length == 2)
    assert(r.sections(1).queries.head.rows.head.head == "val2")
  }

  test("Dropdown default = first row when no param") {
    val content =
      """SELECT 'val1'::DROPDOWN AS myvar
        |UNION ALL SELECT 'val2'::DROPDOWN;
        |SELECT getvariable('myvar') AS val;""".stripMargin
    val r = Dashboard.run(spark, content)
    assert(r.sections(1).queries.head.rows.head.head == "val1")
  }

  test("Invalid dropdown param is ignored (falls back to first row)") {
    val content =
      """SELECT 'val1'::DROPDOWN AS myvar UNION ALL SELECT 'val2'::DROPDOWN;
        |SELECT getvariable('myvar') AS val;""".stripMargin
    val r = Dashboard.run(spark, content, RunConfig(
      queryParams = Map("myvar" -> Seq("not_in_list"))))
    assert(r.sections(1).queries.head.rows.head.head == "val1")
  }

  test("Detects unset variables accurately (get_dashboard_test.go:214-228)") {
    val content =
      """SELECT getvariable('already_set') AS v1, getvariable('missing_var1') AS v2;
        |SET VARIABLE local_var = 'foo';
        |SELECT getvariable('local_var') AS v3, getvariable('missing_var2') AS v4;""".stripMargin
    val r = Dashboard.run(spark, content,
      RunConfig(variables = Map("already_set" -> "hello")))
    assert(r.unsetVariables == Seq("missing_var1", "missing_var2"))
  }

  test("TIMESTAMPTZ across XLINE/XAXIS/YLINE/YAXIS/DATEPICKER/RELOAD (get_dashboard_test.go:230-280)") {
    val content =
      """SELECT '2026-08-04 10:00:00+00'::TIMESTAMPTZ::XLINE;
        |SELECT
        |  '2026-08-04 12:00:00+00'::TIMESTAMPTZ::XAXIS AS ts_xaxis,
        |  10.0::LINECHART AS val;
        |SELECT '2026-08-04 10:00:00+00'::TIMESTAMPTZ::YLINE;
        |SELECT
        |  5.0::BARCHART AS bval,
        |  '2026-08-04 12:00:00+00'::TIMESTAMPTZ::YAXIS AS ts_yaxis;
        |SELECT '2026-08-04 12:00:00+00'::TIMESTAMPTZ AS standalone_tz;
        |SELECT '2026-08-04 12:00:00+00'::TIMESTAMPTZ::DATEPICKER AS dp;
        |SELECT '2026-08-04 12:00:00+00'::TIMESTAMPTZ::RELOAD;""".stripMargin
    val r = Dashboard.run(spark, content)
    assert(r.sections.nonEmpty)

    val q1 = r.sections.head.queries(0)
    assert(q1.render.renderType == "linechart")
    assert(q1.columns(0).colType == "timestamp")
    assert(q1.render.markLines.length == 1)
    assert(!q1.render.markLines.head.isYaxis)
    assert(q1.render.markLines.head.value == 1785837600000L)

    val q2 = r.sections.head.queries(1)
    assert(q2.render.renderType == "barchartVertical")
    assert(q2.columns(1).colType == "timestamp")
    assert(q2.render.markLines.length == 1)
    assert(q2.render.markLines.head.isYaxis)

    val q3 = r.sections.head.queries(2)
    assert(q3.columns(0).colType == "timestamp")

    val q4 = r.sections(1).queries.head
    assert(q4.render.renderType == "datepicker")

    assert(r.reloadAt == 1785844800000L)
  }

  test("LABEL attaches to the next query") {
    val r = Dashboard.run(spark,
      "SELECT 'My Chart'::LABEL;\nSELECT 42 AS v;")
    val q = r.sections.head.queries.head
    assert(q.render.renderType == "value")
    assert(q.render.label.contains("My Chart"))
  }

  test("SECTION creates header; empty SECTION hides following content") {
    val content =
      """SELECT 'Overview'::SECTION;
        |SELECT 1 AS a;
        |SELECT 'Hidden'::SECTION WHERE 1 = 0;
        |SELECT 2 AS b;
        |SELECT 'Visible'::SECTION;
        |SELECT 3 AS c;""".stripMargin
    val r = Dashboard.run(spark, content)
    // the empty SECTION's untitled header is reused by the next SECTION
    // (ref: get_dashboard.go:145-152)
    assert(r.sections.map(_.sectionType) ==
      Seq("header", "content", "header", "content"))
    assert(r.sections(2).title.contains("Visible"))
    assert(r.sections.head.title.contains("Overview"))
    assert(r.name == "Overview")
    // the hidden content (SELECT 2) must not appear anywhere
    val allValues = r.sections.flatMap(_.queries).flatMap(_.rows).flatten
    assert(!allValues.contains(2))
    assert(allValues.contains(3))
  }

  test("README demo: weekly stacked barchart over events (README.md:12-19)") {
    val dir = "/root/testdata/sf0.001"
    val content =
      """SELECT 'Sessions per Week'::LABEL;
        |SELECT date_trunc('week', ts)::XAXIS, event_type::CATEGORY,
        |       count()::BARCHART_STACKED
        |FROM events GROUP BY ALL ORDER BY ALL;""".stripMargin
    val r = Dashboard.run(spark, content, RunConfig(
      prepare = s => Tables.registerAll(s, dir)))
    val q = r.sections.head.queries.head
    assert(q.render.renderType == "barchartHorizontalStacked")
    assert(q.render.label.contains("Sessions per Week"))
    assert(q.columns.map(_.tag) == Seq("index", "category", "value"))
    assert(q.columns(0).colType == "date") // week boundaries at midnight
    assert(q.rows.nonEmpty)
    assert(q.rows.head(0).isInstanceOf[Long]) // epoch ms
    assert(r.minTimeValue <= r.maxTimeValue)
  }

  test("gauge with default range heuristics (get_dashboard.go:1109-1232)") {
    val r = Dashboard.run(spark, "SELECT 42.0::GAUGE AS g")
    val q = r.sections.head.queries.head
    assert(q.render.renderType == "gauge")
    assert(q.render.gaugeCategories == Seq(Model0.cat(0.0, 100.0)))
  }

  test("gauge with explicit RANGE/LABELS/COLORS") {
    val r = Dashboard.run(spark,
      """SELECT 42.0::GAUGE AS g, [0.0, 50.0, 100.0]::RANGE,
        |['low','high']::LABELS, ['#0f0','#f00']::COLORS""".stripMargin)
    val q = r.sections.head.queries.head
    assert(q.render.gaugeCategories == Seq(
      graft.render.Model.GaugeCategory(0.0, 50.0, "low", "#0f0"),
      graft.render.Model.GaugeCategory(50.0, 100.0, "high", "#f00")))
  }

  test("BOXPLOT aggregate matches quantile_cont semantics") {
    val r = Dashboard.run(spark,
      """SELECT 'g'::XAXIS AS grp, BOXPLOT(v) AS bp
        |FROM (SELECT 1.0 AS v UNION ALL SELECT 2.0 UNION ALL SELECT 3.0 UNION ALL SELECT 4.0)
        |GROUP BY 1""".stripMargin)
    val q = r.sections.head.queries.head
    assert(q.render.renderType == "boxplot")
    val bp = q.rows.head(1).asInstanceOf[Map[String, Any]]
    assert(bp("min") == 1.0 && bp("max") == 4.0)
    assert(bp("q1") == 1.75 && bp("q2") == 2.5 && bp("q3") == 3.25)
  }

  test("BOXPLOT outlier_info := branch computes Tukey whiskers + outliers (custom_types.go:104-119)") {
    val r = Dashboard.run(spark,
      """SELECT 'g'::XAXIS AS grp, BOXPLOT(v, outlier_info := map('label', l)) AS bp
        |FROM (SELECT n * 1.0 AS v, 'ok' AS l
        |        FROM (SELECT explode(sequence(1, 10)) AS n)
        |      UNION ALL SELECT 100.0, 'big')
        |GROUP BY 1""".stripMargin)
    val bp = r.sections.head.queries.head.rows.head(1).asInstanceOf[Map[String, Any]]
    // values 1..10 + 100: q1=3.5, q3=8.5, IQR=5 → whiskers [-4, 16]
    assert(bp("q1") == 3.5 && bp("q3") == 8.5)
    assert(bp("min") == 1.0 && bp("max") == 10.0) // whisker-clamped, not raw
    val outliers = bp("outliers").asInstanceOf[Seq[Any]]
    assert(outliers.length == 1)
    val o = outliers.head.asInstanceOf[Map[String, Any]]
    assert(o("value") == 100.0)
    assert(o("info").asInstanceOf[Map[String, String]] == Map("label" -> "big"))
  }

  test("struct literal + BOXPLOT outlier_info end-to-end (the reference macro's own syntax)") {
    val r = Dashboard.run(spark,
      """SELECT 'g'::XAXIS AS grp,
        |  BOXPLOT(v, outlier_info := MAP {'label': l, 'src': 'test'}) AS bp
        |FROM (SELECT n * 1.0 AS v, 'ok' AS l
        |        FROM (SELECT explode(sequence(1, 10)) AS n)
        |      UNION ALL SELECT 500.0, 'big')
        |GROUP BY 1""".stripMargin)
    val bp = r.sections.head.queries.head.rows.head(1).asInstanceOf[Map[String, Any]]
    val o = bp("outliers").asInstanceOf[Seq[Any]].head.asInstanceOf[Map[String, Any]]
    assert(o("value") == 500.0)
    assert(o("info").asInstanceOf[Map[String, String]] ==
      Map("label" -> "big", "src" -> "test"))
  }

  test("USING SAMPLE executes through the dashboard (rows form is exact-count)") {
    val prep: org.apache.spark.sql.SparkSession => Unit =
      s => s.range(1000).createOrReplaceTempView("sample_t")
    val r = Dashboard.run(spark,
      "SELECT count(*) AS n FROM sample_t USING SAMPLE 10 ROWS;",
      RunConfig(prepare = prep))
    assert(r.sections.head.queries.head.rows.head.head == 10)
  }

  test("list_slice parity with DuckDB on every verified edge") {
    val r = Dashboard.run(spark,
      """SELECT list_slice([1, 2, 3, 4, 5], 2, 4) AS a,
        |       list_slice([1, 2, 3, 4, 5], 2, -1) AS b,
        |       list_slice([1, 2, 3, 4, 5], -3, -2) AS c,
        |       list_slice([1, 2, 3, 4, 5], 0, 2) AS d,
        |       list_slice([1, 2, 3, 4, 5], 4, 2) AS e,
        |       list_slice([1, 2, 3, 4, 5], 2, 99) AS f,
        |       list_slice([1, 2, 3, 4, 5], -99, 2) AS g,
        |       list_slice([1, 2, 3], CAST(NULL AS INT), 2) AS h""".stripMargin)
    val row = r.sections.head.queries.head.rows.head
    def seq(v: Any) = v.asInstanceOf[scala.collection.Seq[Any]].toSeq
    assert(seq(row(0)) == Seq(2, 3, 4))      // inclusive end
    assert(seq(row(1)) == Seq(2, 3, 4, 5))   // -1 = last
    assert(seq(row(2)) == Seq(3, 4))         // both negative
    assert(seq(row(3)) == Seq(1, 2))         // 0 clamps to 1
    assert(seq(row(4)) == Seq())             // start > end
    assert(seq(row(5)) == Seq(2, 3, 4, 5))   // end clamped
    assert(seq(row(6)) == Seq(1, 2))         // start clamped
    assert(row(7) == null)                   // NULL index propagates
  }

  test("row cap truncates at 3000 (+1 sentinel row, get_dashboard.go:2231-2242)") {
    val r = Dashboard.run(spark,
      "SELECT * FROM (SELECT explode(sequence(1, 5000)) AS v)")
    assert(r.sections.head.queries.head.rows.length == 3001)
  }

  test("disallowed statement errors with query index") {
    val e = intercept[IllegalArgumentException] {
      Dashboard.run(spark, "SELECT 1;\nDROP TABLE x;")
    }
    assert(e.getMessage.contains("query 2"))
  }

  test("DESCRIBE / SHOW TABLES / EXPLAIN / SUMMARIZE render as tables (§2.A surface)") {
    val dir = "/root/testdata/sf0.001"
    val prep: org.apache.spark.sql.SparkSession => Unit = s => Tables.registerAll(s, dir)
    val desc = Dashboard.run(spark, "DESCRIBE region;", RunConfig(prepare = prep))
    assert(desc.sections.head.queries.head.rows.map(_.head).contains("r_regionkey"))
    val show = Dashboard.run(spark, "SHOW TABLES;", RunConfig(prepare = prep))
    assert(show.sections.head.queries.head.rows.map(_(1)).contains("region"))
    val explain = Dashboard.run(spark, "EXPLAIN SELECT 1;", RunConfig(prepare = prep))
    assert(explain.sections.head.queries.head.rows.nonEmpty)
    val summ = Dashboard.run(spark, "SUMMARIZE region;", RunConfig(prepare = prep))
    val sq = summ.sections.head.queries.head
    assert(sq.columns.map(_.name).take(4) == Seq("column_name", "column_type", "min", "max"))
    assert(sq.rows.length == 2) // r_regionkey, r_name
    val pivot = Dashboard.run(spark,
      "PIVOT orders ON o_orderstatus USING count(*) GROUP BY o_orderpriority;",
      RunConfig(prepare = prep))
    assert(pivot.sections.head.queries.head.rows.length == 5)
  }

  /** Renders `content` twice — with the ShaperTagRules the request
    * session is born with, and with them excluded from its optimizer —
    * and returns both JSON documents. `events` is 2000 rows generated
    * from formulas: three weeks of timestamps, 37 users, five event types. */
  private def renderWithAndWithoutTagRules(content: String,
      cfg: RunConfig = RunConfig()): (String, String) = {
    def render(keepRules: Boolean): String = graft.render.Model.toJson(
      Dashboard.run(spark, content, cfg.copy(prepare = s => {
        if (!keepRules)
          s.conf.set("spark.sql.optimizer.excludedRules", graft.plans.ShaperTagRules.ruleName)
        s.range(2000).selectExpr("id AS event_id",
          "timestamp_seconds(1704067200 + id * 900) AS ts", "id % 37 AS user_id",
          "element_at(array('click', 'error', 'purchase', 'signup', 'view'), " +
            "CAST(id % 5 AS INT) + 1) AS event_type")
          .createOrReplaceTempView("events")
      })))
    (render(keepRules = true), render(keepRules = false))
  }

  test("ShaperTagRules leave every render byte-identical: demo, widget and secure dashboards") {
    val demo =
      """SELECT 'Sessions per Week'::LABEL;
        |SELECT date_trunc('week', ts)::XAXIS, event_type::CATEGORY,
        |       count()::BARCHART_STACKED
        |FROM events GROUP BY ALL ORDER BY ALL;""".stripMargin
    val widgets =
      """SELECT 'Widget Demo'::SECTION;
        |SELECT 'click'::DROPDOWN AS evtype UNION ALL SELECT 'view'::DROPDOWN;
        |SELECT count(*)::GAUGE AS n FROM events WHERE event_type = getvariable('evtype');
        |SELECT 'Top users'::LABEL;
        |SELECT user_id, count(*) AS n FROM events
        |WHERE event_type = getvariable('evtype')
        |GROUP BY user_id ORDER BY n DESC, user_id LIMIT 5;""".stripMargin
    val secure =
      """SELECT 'purchase'::DROPDOWN AS evtype UNION ALL SELECT 'click'::DROPDOWN;
        |SELECT getvariable('evtype') AS effective, count(*) AS n
        |FROM events WHERE event_type = getvariable('evtype') GROUP BY 1;""".stripMargin
    Seq(
      demo -> RunConfig(),
      widgets -> RunConfig(queryParams = Map("evtype" -> Seq("view"))),
      secure -> RunConfig(variables = Map("evtype" -> "error"))).foreach { case (content, cfg) =>
      val (withRules, without) = renderWithAndWithoutTagRules(content, cfg)
      assert(withRules == without)
      assert(withRules.contains("\"rows\":[["), withRules)
    }
  }

  test("ShaperTagRules leave renders identical for null keys and cast members") {
    // NULL grouping keys: one NULL group either way, tagged as a struct
    // holding NULL
    val nulls =
      """SELECT (CASE WHEN user_id % 3 = 0 THEN NULL ELSE date_trunc('month', ts) END)::XAXIS,
        |       (CASE WHEN user_id % 2 = 0 THEN NULL ELSE event_type END)::CATEGORY,
        |       count()::BARCHART_STACKED
        |FROM events GROUP BY ALL ORDER BY ALL;""".stripMargin
    val (n1, n2) = renderWithAndWithoutTagRules(nulls)
    assert(n1 == n2)
    assert(n1.contains("null"), n1)
    // a BIGINT key's member is double: 2^53 and 2^53 + 1 are one double,
    // so they must stay one group
    val cast =
      """SELECT (9007199254740992 + id % 2)::XAXIS, count()::BARCHART
        |FROM range(10) GROUP BY ALL ORDER BY ALL;""".stripMargin
    val (c1, c2) = renderWithAndWithoutTagRules(cast)
    assert(c1 == c2)
    val rows = Dashboard.run(spark, cast).sections.head.queries.head.rows
    assert(rows.length == 1 && rows.head.last == 10, rows)
  }

  test("JSON output is well-formed") {
    val r = Dashboard.run(spark, "SELECT 1 AS val; SELECT 'T'::SECTION;")
    val json = graft.render.Model.toJson(r)
    assert(json.startsWith("{") && json.endsWith("}"))
    assert(json.contains("\"sections\""))
  }
}

/** helper to keep gauge assertion short */
object Model0 {
  def cat(from: Double, to: Double): graft.render.Model.GaugeCategory =
    graft.render.Model.GaugeCategory(from, to, "", "")
}
