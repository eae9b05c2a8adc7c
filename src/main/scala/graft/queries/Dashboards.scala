package graft.queries

import graft.Tables
import graft.interp.Dashboard
import graft.interp.Dashboard.RunConfig
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dashboard-interpreter entries in the driver contract: run a full
  * multi-statement shaper dashboard (LABEL / ::TYPE tags / sections /
  * variables) through graft.interp.Dashboard and surface the render
  * result as a DataFrame. Every entry is gate-checked against a pinned
  * CONSTANT oracle (DashboardOracles — DuckDB can't recompute a render
  * tree, but the outputs are deterministic over the fixed sf0.01 gate
  * corpus); behavior is additionally covered by DashboardSpec,
  * transliterated from the reference's get_dashboard_test.go.
  */
object Dashboards {

  /** The canonical README demo (README.md:12-19) over `events`. */
  private val demoContent =
    """SELECT 'Sessions per Week'::LABEL;
      |SELECT date_trunc('week', ts)::XAXIS, event_type::CATEGORY,
      |       count()::BARCHART_STACKED
      |FROM events GROUP BY ALL ORDER BY ALL;""".stripMargin

  private val downloadContent =
    """SELECT 'click'::DROPDOWN AS evtype UNION ALL SELECT 'view'::DROPDOWN;
      |SELECT 'evts.csv'::DOWNLOAD_CSV AS dl;
      |SELECT getvariable('evtype') AS evtype, CAST(count(*) AS BIGINT) AS n
      |FROM events WHERE event_type = getvariable('evtype') GROUP BY 1;""".stripMargin

  private val pngContent =
    """SELECT 'Overview'::SECTION;
      |SELECT 'Sessions per Week'::LABEL;
      |SELECT date_trunc('week', ts)::XAXIS, event_type::CATEGORY,
      |       count()::BARCHART_STACKED
      |FROM events GROUP BY ALL ORDER BY ALL;
      |SELECT 'Monthly order volume'::LABEL;
      |SELECT date_trunc('month', o_orderdate)::XAXIS,
      |       round(sum(o_totalprice))::LINECHART
      |FROM orders GROUP BY ALL ORDER BY ALL;
      |SELECT count(*) AS customers FROM customer;
      |SELECT n_name, n_regionkey FROM nation ORDER BY n_name LIMIT 10;""".stripMargin

  private val secureContent =
    """SELECT 'purchase'::DROPDOWN AS evtype UNION ALL SELECT 'click'::DROPDOWN;
      |SELECT getvariable('evtype') AS effective, count(*) AS n
      |FROM events WHERE event_type = getvariable('evtype') GROUP BY 1;""".stripMargin

  private val widgetsContent =
    """SELECT 'Widget Demo'::SECTION;
      |SELECT 'click'::DROPDOWN AS evtype UNION ALL SELECT 'view'::DROPDOWN;
      |SELECT count(*)::GAUGE AS n FROM events WHERE event_type = getvariable('evtype');
      |SELECT 'Top users'::LABEL;
      |SELECT user_id, count(*) AS n FROM events
      |WHERE event_type = getvariable('evtype')
      |GROUP BY user_id ORDER BY n DESC, user_id LIMIT 5;""".stripMargin

  private val goldenContent =
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

  /** Every dashboard the entries below render. */
  private[graft] val contents: Seq[String] =
    Seq(demoContent, downloadContent, pngContent, secureContent, widgetsContent, goldenContent)

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    "dl01_download_flow" -> ((s, d) => {
      // full download path: dropdown default replayed into the variable,
      // CSV streamed, parsed back for the oracle
      val w = new java.io.StringWriter
      graft.interp.Download.run(s, downloadContent, "csv", w,
        prepare = ss => Tables.registerAll(ss, d))
        .left.foreach(err => throw new IllegalStateException(err))
      import s.implicits._
      w.toString.split("\n").drop(1).filter(_.nonEmpty).toSeq
        .map { line => val p = line.split(","); (p(0), p(1).toLong) }
        .toDF("evtype", "n")
    }),

    "sum01_summarize" -> ((s, d) => {
      // SUMMARIZE through the interpreter, checked against DuckDB's
      // native SUMMARIZE on its deterministic columns (min/max/count —
      // avg/std/quantiles use approximate or differently-formatted
      // algorithms on each engine)
      val r = Dashboard.run(s, "SUMMARIZE nation",
        RunConfig(dashboardId = "sum", prepare = ss => Tables.registerAll(ss, d)))
      import s.implicits._
      r.sections.head.queries.head.rows.map { row =>
        (String.valueOf(row(0)), String.valueOf(row(2)), String.valueOf(row(3)),
          row(10).toString.toLong)
      }.toDF("column_name", "min_v", "max_v", "n").orderBy("column_name")
    }),

    "sh01_dashboard_render" -> ((s, d) => {
      val r = Dashboard.run(s, demoContent,
        RunConfig(dashboardId = "demo", prepare = ss => Tables.registerAll(ss, d)))
      // golden render contract, asserted in-entry so the driver gate
      // (not just the unit suite) pins it: one content section, a
      // stacked barchart with the LABEL captured, columns tagged
      // index/category/value in select-list order
      val q0 = r.sections.head.queries.head
      require(r.sections.length == 1, s"expected 1 section, got ${r.sections.length}")
      require(q0.render.renderType == "barchartHorizontalStacked",
        s"render type drifted: ${q0.render.renderType}") // get_dashboard.go:986
      require(q0.render.label.contains("Sessions per Week"),
        s"label drifted: ${q0.render.label}")
      require(q0.columns.map(_.tag) == Seq("index", "category", "value"),
        s"tags drifted: ${q0.columns.map(_.tag)}")
      // week-truncated values are all midnight, so type inference reports
      // "date" (ref: getTimestampType value inspection, get_dashboard.go:1349)
      require(q0.columns.head.colType == "date",
        s"XAXIS column type drifted: ${q0.columns.head.colType}")
      import s.implicits._
      r.sections.zipWithIndex.flatMap { case (sec, si) =>
        sec.queries.zipWithIndex.map { case (q, qi) =>
          (si, qi, sec.sectionType, q.render.renderType,
            q.render.label.getOrElse(""), q.columns.map(_.tag).mkString(","),
            q.rows.length)
        }
      }.toDF("section", "query", "section_type", "render_type", "label", "tags", "n_rows")
    }),

    "au01_auth_flow" -> ((s, d) => {
      // the login surface through the driver gate (auth.go:215-237,
      // users.go:63): bcrypt hash interop — a reference-produced $2a$
      // hash (public crypt_blowfish vector) verifies, a fresh hash
      // mints $2b$10$ and round-trips, wrong password and unknown email
      // fail, the email is case-folded+trimmed, and a successful login
      // mints a session that validates
      import graft.auth.{Passwords, Tokens}
      val store = new Tokens.TokenStore(random = new java.util.Random(7))
      store.putUser(Tokens.UserRecord("u1", "a@b.c", "Alice"))
      val freshHash = Passwords.hash("pw-1")
      val emails = Map("a@b.c" -> "u1")
      val hashes = Map("u1" -> freshHash)
      val session = Passwords.login(store, hashes.get, emails.get, "  A@B.C ", "pw-1")
      val checks = Seq(
        "reference_hash_verifies" -> Passwords.verify("U*U",
          "$2a$05$CCCCCCCCCCCCCCCCCCCCC.E5YPO9kmyuRGyh0XouQYb4YMJKvyOeW"),
        "fresh_hash_is_2b10" -> freshHash.startsWith("$2b$10$"),
        "fresh_hash_roundtrips" -> Passwords.verify("pw-1", freshHash),
        "wrong_password_fails" ->
          Passwords.login(store, hashes.get, emails.get, "a@b.c", "nope").isLeft,
        "unknown_email_fails" ->
          Passwords.login(store, hashes.get, emails.get, "x@y.z", "pw-1").isLeft,
        "folded_email_logs_in" -> session.isRight,
        "session_validates" ->
          session.toOption.exists(store.validateSessionToken))
      import s.implicits._
      checks.toDF("check_name", "ok").orderBy("check_name")
    }),

    "png01_png_render" -> ((s, d) => {
      // op #33 (ref: server/pdf/pdf.go:33-342): the reference screenshots
      // the browser page; here the same GetResult payload is painted
      // headless (render/Png.scala) and fingerprinted geometry-only —
      // page dimensions plus exact-palette pixel counts, which depend on
      // chart geometry but never on font rasterization, so the oracle
      // can pin them as golden constants
      val r = Dashboard.run(s, pngContent,
        RunConfig(dashboardId = "png", prepare = ss => Tables.registerAll(ss, d)))
      val png = graft.render.Png.render(r)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      import s.implicits._
      (Seq("width" -> img.getWidth.toLong, "height" -> img.getHeight.toLong) ++
        graft.render.Png.paletteCounts(png))
        .toDF("metric", "value").orderBy("metric")
    }),

    "sh02_dashboard_json" -> ((s, d) => {
      val r = Dashboard.run(s, demoContent,
        RunConfig(dashboardId = "demo", prepare = ss => Tables.registerAll(ss, d)))
      import s.implicits._
      Seq(graft.render.Model.toJson(r)).toDF("dashboard_json")
    }),

    "sh04_secure_dashboard" -> ((s, d) => {
      // full auth flow: sign JWT with protected variables -> verify ->
      // render; a malicious URL param must NOT override the JWT value
      // (the reference's security-critical test, get_dashboard_test.go:166-190)
      val claims = graft.auth.Auth.Claims(
        dashboardId = Some("secure-demo"),
        variables = Map("evtype" -> "purchase"),
        isPublic = false, longLived = false,
        exp = System.currentTimeMillis() / 1000 + 900)
      val token = graft.auth.Auth.sign(claims, "demo-secret")
      val verified = graft.auth.Auth.verify(token, "demo-secret")
        .getOrElse(throw new IllegalStateException("token verification failed"))
      val r = Dashboard.run(s, secureContent, RunConfig(
        dashboardId = "secure-demo",
        queryParams = Map("evtype" -> Seq("click")), // attack attempt
        variables = verified.variables,
        prepare = ss => Tables.registerAll(ss, d)))
      // the security golden (get_dashboard_test.go:166-190): the JWT's
      // protected value must win over the URL param, asserted in-entry
      val effective = r.sections.flatMap(_.queries).flatMap(_.rows)
        .collectFirst { case row if row.length > 1 => String.valueOf(row.head) }
      require(effective.contains("purchase"),
        s"protected variable overridden by query param: effective=$effective")
      import s.implicits._
      r.sections.flatMap(_.queries).flatMap(_.rows).map(row =>
        (String.valueOf(row.head), String.valueOf(row.lift(1).getOrElse(""))))
        .toDF("value", "extra")
    }),

    "sh03_dashboard_widgets" -> ((s, d) => {
      // widgets + variables + sections + gauge in one dashboard
      val r = Dashboard.run(s, widgetsContent,
        RunConfig(dashboardId = "widgets", prepare = ss => Tables.registerAll(ss, d)))
      // golden widget contract asserted in-entry: the SECTION retitles
      // the content section, the dropdown lands in a header section,
      // the gauge renders as gauge, and the LABEL binds to the table
      val renderTypes = r.sections.flatMap(_.queries).map(_.render.renderType)
      require(renderTypes.contains("gauge") && renderTypes.contains("dropdown"),
        s"widget render types drifted: $renderTypes")
      val labeled = r.sections.flatMap(_.queries)
        .find(_.render.label.contains("Top users"))
      require(labeled.exists(_.rows.length == 5),
        s"labeled table drifted: ${labeled.map(_.rows.length)}")
      import s.implicits._
      r.sections.flatMap(sec => sec.queries.map(q =>
        (sec.sectionType, q.render.renderType, q.render.label.getOrElse(""),
          q.rows.length, q.render.gaugeCategories.length)))
        .toDF("section_type", "render_type", "label", "n_rows", "n_gauge_cats")
    }),

    "http01_api_slice" -> ((s, d) => {
      // the four data-plane HTTP routes end-to-end over a real listening
      // socket (routes.go:154-217): API-key-gated SQL→CSV, JWT-scoped
      // dashboard render, synchronous ingest with ids, validate
      val store = new graft.state.StateJournal.MetaStore()
      store.dashboards("demo") = graft.state.StateJournal.DashboardMeta(
        "demo", "Demo", "SELECT r_name FROM region ORDER BY r_name;",
        None, None, 0L, "gate")
      val (_, apiKey) = store.tokens.createApiKey("gate-key",
        Seq(graft.auth.Tokens.Permission.QueryData, graft.auth.Tokens.Permission.IngestData),
        graft.auth.Tokens.Actor(graft.auth.Tokens.ActorType.User, "gate"))
      val secret = "gate-secret"
      val api = new graft.api.HttpApi(s, store, secret,
        prepare = ss => Tables.registerAll(ss, d))
      val port = api.start()
      try {
        val client = java.net.http.HttpClient.newHttpClient()
        def send(method: String, path: String, payload: String, token: String) = {
          val b = java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:$port$path"))
          if (token.nonEmpty) b.header("Authorization", s"Bearer $token")
          val req = if (method == "GET") b.GET().build()
            else b.POST(java.net.http.HttpRequest.BodyPublishers.ofString(payload)).build()
          client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
        }
        s.sql("DROP TABLE IF EXISTS http_gate_t")
        val loc = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), "http_gate_t")
        loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
        val jwt = graft.auth.Auth.sign(graft.auth.Auth.Claims(
          None, Map.empty, isPublic = false, longLived = false,
          exp = System.currentTimeMillis() / 1000 + 900), secret)

        val sqlResp = send("POST", "/api/sql",
          """{"sql": "SELECT count(*) AS n FROM nation"}""", apiKey)
        val dashResp = send("GET", "/api/dashboards/demo", "", jwt)
        val dataResp = send("POST", "/api/data/http_gate_t",
          """[{"_id": "g1", "v": 1}, {"_id": "g2", "v": 2}]""", apiKey)
        val valResp = send("POST", "/api/validate",
          """{"type": "dashboard", "sql": "SELECT 1 AS one"}""", jwt)
        val unauth = send("POST", "/api/sql", """{"sql": "SELECT 1"}""", "")
        val ingested = s.table("http_gate_t").count()
        require(ingested == 2, s"HTTP ingest landed $ingested rows, expected 2")
        require(dashResp.body().contains("AFRICA"), "dashboard render missing rows")
        import s.implicits._
        Seq(
          ("dashboards", dashResp.statusCode().toLong,
            dashResp.body().contains("\"name\":\"Demo\"")),
          ("data", dataResp.statusCode().toLong, dataResp.body().contains("g2")),
          ("sql", sqlResp.statusCode().toLong,
            sqlResp.body().trim.endsWith("25")),
          ("unauth", unauth.statusCode().toLong, true),
          ("validate", valResp.statusCode().toLong,
            valResp.body().contains("\"valid\":true")))
          .toDF("route", "status", "ok").orderBy("route")
      } finally api.stop()
    }),

    "http02_control_plane" -> ((s, d) => {
      // the round-4 plane end-to-end over one listening socket: setup
      // bootstrap (auth.go:302), system config + version (system.go),
      // deploy with folder auto-creation (deploy.go:26-220), apps
      // listing (apps.go:15-100), dashboard info + public status
      // (dashboard.go:120,857), download intent mint/redeem
      // (dashboard.go:390-590), metrics, and JWT-secret rotation
      val store = new graft.state.StateJournal.MetaStore()
      val secret = "gate2-secret"
      val api = new graft.api.HttpApi(s, store, secret,
        prepare = ss => Tables.registerAll(ss, d))
      val port = api.start()
      try {
        val client = java.net.http.HttpClient.newHttpClient()
        def send(method: String, path: String, payload: String, token: String) = {
          val b = java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:$port$path"))
          if (token.nonEmpty) b.header("Authorization", s"Bearer $token")
          val req = if (method == "GET") b.GET().build()
            else b.POST(java.net.http.HttpRequest.BodyPublishers.ofString(payload)).build()
          client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
        }
        val setup = send("POST", "/api/auth/setup",
          """{"email": "op@gate.io", "name": "Op", "password": "gate-pw"}""", "")
        val session = setup.body().split("\"token\":\"")(1).stripSuffix("\"}")
        val config = send("GET", "/api/system/config", "", "")
        val version = send("GET", "/api/version", "", session)
        val deploy = send("POST", "/api/deploy",
          """{"apps": [{"operation": "create", "type": "dashboard",
            "data": {"id": "gd1", "name": "Gate Board", "path": "/f1/",
                     "content": "SELECT r_name FROM region ORDER BY r_name;"}}]}""",
          session)
        val apps = send("GET", "/api/apps?path=/f1/", "", session)
        val info = send("GET", "/api/dashboards/gd1/info", "", session)
        send("POST", "/api/dashboards/gd1/visibility",
          """{"visibility": "public"}""", session)
        val status = send("GET", "/api/public/gd1/status", "", "")
        val jwt = graft.auth.Auth.sign(graft.auth.Auth.Claims(
          Some("gd1"), Map.empty, isPublic = false, longLived = false,
          exp = System.currentTimeMillis() / 1000 + 900), secret)
        val mint = send("GET", "/api/dashboards/gd1/download/rows.csv?query_id=0", "", jwt)
        val redeemed = send("GET",
          mint.body().split("\"url\":\"")(1).stripSuffix("\"}"), "", "")
        val (_, mKey) = store.tokens.createApiKey("m",
          Seq(graft.auth.Tokens.Permission.ReadMetrics),
          graft.auth.Tokens.Actor(graft.auth.Tokens.ActorType.User, "op"))
        val metrics = send("GET", "/metrics", "", mKey)
        val reset = send("POST", "/api/admin/reset-jwt-secret", "", session)
        val jwtDead = send("GET", "/api/dashboards/gd1", "", jwt)
        import s.implicits._
        Seq(
          ("apps", apps.statusCode().toLong,
            apps.body().contains("\"id\":\"gd1\"") && apps.body().contains("\"path\":\"/f1/\"")),
          ("config", config.statusCode().toLong,
            config.body().contains("\"loginRequired\":true")),
          ("deploy", deploy.statusCode().toLong,
            deploy.body().contains("\"status\":\"created\"")),
          ("download", redeemed.statusCode().toLong,
            redeemed.body().contains("EUROPE")),
          ("info", info.statusCode().toLong,
            info.body().contains("\"path\":\"/f1/\"")),
          ("metrics", metrics.statusCode().toLong,
            metrics.body().contains("graft_http_requests_total")),
          ("reset", reset.statusCode().toLong, jwtDead.statusCode() == 401),
          ("setup", setup.statusCode().toLong, setup.body().contains("\"token\":")),
          ("status", status.statusCode().toLong,
            status.body().contains("\"visibility\":\"public\"")),
          ("version", version.statusCode().toLong, version.body().contains("\"version\":")))
          .toDF("route", "status", "ok").orderBy("route")
      } finally api.stop()
    }),

    "sh05_render_golden" -> ((s, d) => {
      // TIMESTAMPTZ / markline / reload golden values transliterated
      // from the reference render test (get_dashboard_test.go:230-280)
      // and asserted IN-ENTRY, so the driver's gate pins them every
      // round: XLINE markline = 2026-08-04 10:00 UTC as epoch ms on the
      // following linechart, YLINE flagged as y-axis on the vertical
      // barchart, RELOAD = 2026-08-04 12:00 UTC epoch ms.
      val r = Dashboard.run(s, goldenContent,
        RunConfig(dashboardId = "golden", prepare = ss => Tables.registerAll(ss, d)))
      val qs = r.sections.flatMap(_.queries)
      val line = qs.find(_.render.renderType == "linechart")
        .getOrElse(throw new IllegalStateException("no linechart rendered"))
      require(line.render.markLines.length == 1 &&
        line.render.markLines.head.value == 1785837600000L &&
        !line.render.markLines.head.isYaxis,
        s"XLINE markline drifted: ${line.render.markLines}")
      require(line.columns.head.colType == "timestamp",
        s"TIMESTAMPTZ XAXIS column type drifted: ${line.columns.head.colType}")
      val bar = qs.find(_.render.renderType == "barchartVertical")
        .getOrElse(throw new IllegalStateException("no vertical barchart rendered"))
      require(bar.render.markLines.length == 1 && bar.render.markLines.head.isYaxis,
        s"YLINE markline drifted: ${bar.render.markLines}")
      require(qs.exists(_.render.renderType == "datepicker"),
        s"no datepicker rendered: ${qs.map(_.render.renderType)}")
      require(r.reloadAt == 1785844800000L, s"reloadAt drifted: ${r.reloadAt}")
      import s.implicits._
      Seq((line.render.markLines.head.value.toString.toLong,
          bar.render.markLines.head.isYaxis, r.reloadAt,
          line.columns.head.colType, qs.length))
        .toDF("xline_ms", "yline_is_y", "reload_at", "xaxis_type", "n_queries")
    })
  )
}
