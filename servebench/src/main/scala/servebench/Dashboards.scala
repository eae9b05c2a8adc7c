package servebench

import java.net.URLEncoder
import java.nio.charset.StandardCharsets

final case class Dash(id: String, content: String)

/** One render target: a dashboard, the variable value its request
  * carries (as a URL parameter or a JWT claim), and for each widget the
  * plain Spark SQL that computes its expected rows outside the
  * interpreter. */
final case class View(dash: Dash, param: Option[(String, String)],
    claims: Map[String, Any], expectedSql: Seq[String]) {
  def path: String = s"/api/dashboards/${dash.id}" + param.map { case (k, v) =>
    s"?$k=${URLEncoder.encode(v, StandardCharsets.UTF_8)}"
  }.getOrElse("")

  def key: String = dash.id + param.map("?" + _._2).getOrElse("") +
    claims.map { case (k, v) => s"#$k=$v" }.mkString
}

object Dashboards {
  val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** The README demo (the sh01 entry's content). */
  val demo = Dash("demo",
    """SELECT 'Sessions per Week'::LABEL;
      |SELECT date_trunc('week', ts)::XAXIS, event_type::CATEGORY,
      |       count()::BARCHART_STACKED
      |FROM events GROUP BY ALL ORDER BY ALL;""".stripMargin)

  /** The widget dashboard (the sh03 entry's content). */
  val widgets = Dash("widgets",
    """SELECT 'Widget Demo'::SECTION;
      |SELECT 'click'::DROPDOWN AS evtype UNION ALL SELECT 'view'::DROPDOWN;
      |SELECT count(*)::GAUGE AS n FROM events WHERE event_type = getvariable('evtype');
      |SELECT 'Top users'::LABEL;
      |SELECT user_id, count(*) AS n FROM events
      |WHERE event_type = getvariable('evtype')
      |GROUP BY user_id ORDER BY n DESC, user_id LIMIT 5;""".stripMargin)

  /** The secure dashboard (the sh04 entry's content): `evtype` comes from
    * the JWT claims and wins over any URL parameter. */
  val secure = Dash("secure",
    """SELECT 'purchase'::DROPDOWN AS evtype UNION ALL SELECT 'click'::DROPDOWN;
      |SELECT getvariable('evtype') AS effective, count(*) AS n
      |FROM events WHERE event_type = getvariable('evtype') GROUP BY 1;""".stripMargin)

  /** The ingest reader's live view of the ingested table. */
  val live = Dash("live",
    """SELECT 'Live events'::LABEL;
      |SELECT count(*)::GAUGE AS n FROM bench_events;
      |SELECT kind, count(*) AS n FROM bench_events GROUP BY kind ORDER BY kind;""".stripMargin)

  def lightViews: Seq[View] =
    Seq(View(demo, None, Map.empty, Seq(
      """SELECT date_trunc('week', ts) AS w, event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2, 3""".stripMargin))) ++
    Seq("click", "view").map(ev => View(widgets, Some("evtype" -> ev), Map.empty, Seq(
      "SELECT 'click' AS evtype UNION ALL SELECT 'view'",
      s"SELECT count(*) AS n FROM events WHERE event_type = '$ev'",
      s"""SELECT user_id, count(*) AS n FROM events WHERE event_type = '$ev'
         |GROUP BY user_id ORDER BY n DESC, user_id LIMIT 5""".stripMargin))) ++
    EventTypes.map(ev => View(secure, None, Map("evtype" -> ev), Seq(
      "SELECT 'purchase' AS evtype UNION ALL SELECT 'click'",
      s"""SELECT '$ev' AS effective, count(*) AS n FROM events
         |WHERE event_type = '$ev' GROUP BY 1""".stripMargin)))
}
