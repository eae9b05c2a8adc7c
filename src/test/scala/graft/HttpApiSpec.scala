package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.api.HttpApi
import graft.auth.{Auth, Tokens}
import graft.state.StateJournal
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end HTTP slice: boots the JDK HttpServer on an ephemeral port
  * and drives the four data-plane routes with a real HTTP client —
  * request/response shapes from the reference handlers
  * (web/handler/sql.go, validate.go, events.go, dashboard.go:321-357).
  */
class HttpApiSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"
  private val secret = "http-test-secret"

  private lazy val fixtureStore = new StateJournal.MetaStore()

  private lazy val fixture: (HttpApi, Int, String) = {
    val store = fixtureStore
    store.dashboards("demo") = StateJournal.DashboardMeta(
      "demo", "Demo", "SELECT 'hi'::LABEL;\nSELECT r_name FROM region ORDER BY r_name;",
      None, None, 0L, "test")
    val (_, apiKey) = store.tokens.createApiKey("test-key",
      Seq(Tokens.Permission.QueryData, Tokens.Permission.IngestData,
        Tokens.Permission.GenerateJWT),
      Tokens.Actor(Tokens.ActorType.User, "u1"))
    val api = new HttpApi(spark, store, secret,
      prepare = ss => Tables.registerAll(ss, dir))
    val port = api.start()
    (api, port, apiKey)
  }

  private def client = HttpClient.newHttpClient()

  private def get(path: String, token: Option[String] = None): HttpResponse[String] = {
    val (_, port, _) = fixture
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
    token.foreach(t => b.header("Authorization", s"Bearer $t"))
    client.send(b.GET().build(), HttpResponse.BodyHandlers.ofString())
  }

  private def post(path: String, payload: String, token: Option[String] = None): HttpResponse[String] = {
    val (_, port, _) = fixture
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
    token.foreach(t => b.header("Authorization", s"Bearer $t"))
    client.send(b.POST(HttpRequest.BodyPublishers.ofString(payload)).build(),
      HttpResponse.BodyHandlers.ofString())
  }

  private def jwt(dashboardId: Option[String] = None,
      variables: Map[String, Any] = Map.empty): String =
    Auth.sign(Auth.Claims(dashboardId, variables, isPublic = false,
      longLived = false, exp = System.currentTimeMillis() / 1000 + 900), secret)

  test("GET /health is open") {
    assert(get("/health").statusCode() == 200)
  }

  test("POST /api/sql streams CSV for one gated statement (sql.go:14-80)") {
    val (_, _, key) = fixture
    val r = post("/api/sql", """{"sql": "SELECT r_name FROM region ORDER BY r_name"}""",
      Some(key))
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").orElse("").startsWith("text/csv"))
    val lines = r.body().split("\n").map(_.trim).filter(_.nonEmpty)
    assert(lines.head == "r_name")
    assert(lines.contains("EUROPE") && lines.length == 6)
  }

  test("POST /api/sql rejects: no key, multi-statement, disallowed, empty") {
    val (_, _, key) = fixture
    assert(post("/api/sql", """{"sql": "SELECT 1"}""").statusCode() == 401)
    assert(post("/api/sql", """{"sql": "SELECT 1; SELECT 2"}""", Some(key)).statusCode() == 400)
    assert(post("/api/sql", """{"sql": "DROP TABLE region"}""", Some(key)).statusCode() == 400)
    val empty = post("/api/sql", """{"sql": ""}""", Some(key))
    assert(empty.statusCode() == 400 && empty.body().contains("SQL is required"))
  }

  test("GET /api/dashboards/:id renders JSON under a JWT (dashboard.go:321-357)") {
    val r = get("/api/dashboards/demo", Some(jwt()))
    assert(r.statusCode() == 200)
    assert(r.body().contains("\"name\":\"Demo\""))
    assert(r.body().contains("EUROPE"))
    assert(r.body().contains("\"sections\""))
  }

  test("GET /api/render/:id serves a PNG of the dashboard (pdf.go:33-342 analog)") {
    val (_, port, _) = fixture
    val b = HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:$port/api/render/demo"))
      .header("Authorization", s"Bearer ${jwt()}")
    val r = client.send(b.GET().build(), HttpResponse.BodyHandlers.ofByteArray())
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").orElse("") == "image/png")
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.body()))
    assert(img != null && img.getWidth == 1200 && img.getHeight > 100)
    // same auth rules as the JSON route
    assert(get("/api/render/demo").statusCode() == 401)
    assert(get("/api/render/nope", Some(jwt())).statusCode() == 404)
    assert(get("/api/render/demo", Some(jwt(Some("other")))).statusCode() == 401)
    // ?format=pdf serves the PDF wrap of the same page
    val bp = HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:$port/api/render/demo?format=pdf"))
      .header("Authorization", s"Bearer ${jwt()}")
    val rp = client.send(bp.GET().build(), HttpResponse.BodyHandlers.ofByteArray())
    assert(rp.statusCode() == 200)
    assert(rp.headers().firstValue("Content-Type").orElse("") == "application/pdf")
    assert(new String(rp.body().take(8), "ASCII").startsWith("%PDF-1.4"))
  }

  test("dashboard auth scoping: id-mismatch 401, missing 404, no token 401") {
    assert(get("/api/dashboards/demo", Some(jwt(Some("other")))).statusCode() == 401)
    assert(get("/api/dashboards/demo", Some(jwt(Some("demo")))).statusCode() == 200)
    assert(get("/api/dashboards/nope", Some(jwt())).statusCode() == 404)
    assert(get("/api/dashboards/demo").statusCode() == 401)
    assert(get("/api/dashboards/demo", Some("garbage.token.sig")).statusCode() == 401)
  }

  test("POST /api/data/:table ingests object and array, returns ids (events.go:27-80)") {
    val (_, _, key) = fixture
    val s2 = spark
    s2.sql("DROP TABLE IF EXISTS http_ingest")
    val loc = new org.apache.hadoop.fs.Path(
      s2.conf.get("spark.sql.warehouse.dir"), "http_ingest")
    loc.getFileSystem(s2.sparkContext.hadoopConfiguration).delete(loc, true)

    val single = post("/api/data/http_ingest",
      """{"_id": "h1", "v": 1, "kind": "a"}""", Some(key))
    assert(single.statusCode() == 202)
    assert(single.body().contains("\"id\":\"h1\""))

    val arr = post("/api/data/http_ingest",
      """[{"v": 2, "kind": "b"}, {"v": 3, "kind": "c"}]""", Some(key))
    assert(arr.statusCode() == 202)
    assert(arr.body().contains("\"ids\":["))

    assert(spark.table("http_ingest").count() == 3)
    // no key / bad payload
    assert(post("/api/data/http_ingest", """{"v": 9}""").statusCode() == 401)
    val bad = post("/api/data/http_ingest", "not json", Some(key))
    assert(bad.statusCode() == 400 && bad.body().contains("\"status\":\"error\""))

    // retried explicit _id inside the duplicate window: accepted response
    // (the reference's publish succeeds) but no second row lands — the
    // JetStream duplicates-window behavior (events.go:47)
    val retry = post("/api/data/http_ingest",
      """{"_id": "h1", "v": 1, "kind": "a"}""", Some(key))
    assert(retry.statusCode() == 202 && retry.body().contains("\"id\":\"h1\""))
    assert(spark.table("http_ingest").count() == 3)
  }

  test("client faults are 4xx, not 500: bad %-escape in the query string") {
    // the JDK HttpClient refuses to even build this URI, so drive the
    // server with a raw socket
    val (_, port, _) = fixture
    val sock = new java.net.Socket("127.0.0.1", port)
    try {
      val out = new java.io.PrintWriter(sock.getOutputStream)
      out.print("GET /api/dashboards/demo?x=%zz HTTP/1.1\r\nHost: t\r\n" +
        s"Authorization: Bearer ${jwt()}\r\nConnection: close\r\n\r\n")
      out.flush()
      val resp = scala.io.Source.fromInputStream(sock.getInputStream).mkString
      assert(resp.startsWith("HTTP/1.1 400"), s"got: ${resp.takeWhile(_ != '\r')}")
    } finally sock.close()
    // sanity: the handler pipeline still works after the rejected request
    assert(get("/api/dashboards/demo?x=%20ok", Some(jwt())).statusCode() == 200)
  }

  test("GET /api/schema serves catalog JSON under JWT or API key (schema.go:13-33)") {
    val (_, _, key) = fixture
    val viaJwt = get("/api/schema", Some(jwt()))
    assert(viaJwt.statusCode() == 200)
    assert(viaJwt.body().contains("\"databases\"") && viaJwt.body().contains("lineitem"))
    // dashboard-scoped JWT rejected; API key needs read-schema permission
    assert(get("/api/schema", Some(jwt(Some("demo")))).statusCode() == 401)
    assert(get("/api/schema", Some(key)).statusCode() == 401) // key lacks read-schema
    assert(get("/api/schema").statusCode() == 401)
  }

  test("POST /api/download/:filename returns the query in the named format") {
    val (_, _, key) = fixture
    val csv = post("/api/download/r.csv",
      """{"sql": "SELECT r_name FROM region ORDER BY r_name"}""", Some(key))
    assert(csv.statusCode() == 200)
    assert(csv.headers().firstValue("Content-Disposition").orElse("").contains("r.csv"))
    assert(csv.body().startsWith("r_name"))
    val json = post("/api/download/r.json",
      """{"sql": "SELECT r_name FROM region ORDER BY r_name"}""", Some(key))
    assert(json.statusCode() == 200 && json.body().contains("\"r_name\""))
    // bad extension + pdf (render format, not engine) rejected
    assert(post("/api/download/r.exe", """{"sql": "SELECT 1"}""", Some(key)).statusCode() == 400)
    assert(post("/api/download/r.pdf", """{"sql": "SELECT 1"}""", Some(key)).statusCode() == 400)
  }

  test("POST /api/auth/login mints a session; one 401 for bad email or password (auth.go:42-63)") {
    val (_, _, _) = fixture
    val store = fixtureStore
    store.tokens.putUser(Tokens.UserRecord("lu1", "login@test.io", "L",
      passwordHash = Some(graft.auth.Passwords.hash("pw-http", cost = 4))))
    val ok = post("/api/auth/login", """{"email": " LOGIN@TEST.IO ", "password": "pw-http"}""")
    assert(ok.statusCode() == 200 && ok.body().contains("\"token\":"))
    assert(post("/api/auth/login", """{"email": "login@test.io", "password": "nope"}""").statusCode() == 401)
    assert(post("/api/auth/login", """{"email": "ghost@test.io", "password": "pw-http"}""").statusCode() == 401)
    assert(post("/api/auth/login", "not json").statusCode() == 400)
  }

  test("POST /api/auth/token: issue + refresh rules (auth.go:83-231)") {
    val (_, _, key) = fixture
    // API key with the jwt permission mints a dashboard-scoped JWT...
    val minted = post("/api/auth/token",
      s"""{"token": "$key", "dashboardId": "demo", "variables": {"v": "1"}}""")
    assert(minted.statusCode() == 200 && minted.body().contains("\"jwt\":"), minted.body())
    val jwtTok = minted.body().split("\"jwt\":\"")(1).stripSuffix("\"}")
    // ...which opens the dashboard route
    assert(get("/api/dashboards/demo", Some(jwtTok)).statusCode() == 200)
    // API key without dashboardId → 400 (auth.go:206-210)
    assert(post("/api/auth/token", s"""{"token": "$key"}""").statusCode() == 400)
    // invalid token → 401; bad variables → 400
    assert(post("/api/auth/token", """{"token": "garbage", "dashboardId": "demo"}""").statusCode() == 401)
    assert(post("/api/auth/token",
      s"""{"token": "$key", "dashboardId": "demo", "variables": {"v": 7}}""").statusCode() == 400)
    // dashboard-scoped JWT can never re-mint (auth.go:117-121)
    assert(post("/api/auth/token", """{"dashboardId": "other"}""",
      Some(jwtTok)).statusCode() == 401)
    // non-scoped JWT refresh works, and long-lived-from-long-lived is refused
    val userJwt = jwt()
    val refreshed = post("/api/auth/token", """{"dashboardId": "demo"}""", Some(userJwt))
    assert(refreshed.statusCode() == 200)
    val ll = post("/api/auth/token", """{"longLived": true}""", Some(userJwt))
    assert(ll.statusCode() == 200)
    val llTok = ll.body().split("\"jwt\":\"")(1).stripSuffix("\"}")
    assert(post("/api/auth/token", """{"longLived": true}""", Some(llTok)).statusCode() == 401)
  }

  test("dashboard control plane: create, edit fields, render reflects edits, delete (routes.go:188-196)") {
    val (_, _, _) = fixture
    val store = fixtureStore
    store.tokens.putUser(Tokens.UserRecord("cp1", "cp@test.io", "CP"))
    val session = store.tokens.createSessionForUser("cp1")
    // create with generated id
    val created = post("/api/dashboards",
      """{"name": "CP Board", "content": "SELECT 1 AS one;"}""", Some(session))
    assert(created.statusCode() == 200, created.body())
    val id = created.body().split("\"id\":\"")(1).stripSuffix("\"}")
    assert(store.dashboards(id).name == "CP Board")
    // edits apply through the journal events
    assert(post(s"/api/dashboards/$id/name", """{"name": "Renamed"}""",
      Some(session)).statusCode() == 200)
    assert(post(s"/api/dashboards/$id/query",
      """{"content": "SELECT 2 AS two;"}""", Some(session)).statusCode() == 200)
    assert(post(s"/api/dashboards/$id/visibility",
      """{"visibility": "password-protected"}""", Some(session)).statusCode() == 200)
    assert(post(s"/api/dashboards/$id/password",
      """{"password": "cp-pass"}""", Some(session)).statusCode() == 200)
    assert(store.dashboards(id).name == "Renamed")
    assert(store.dashboards(id).visibility.contains("password-protected"))
    // the stored hash is bcrypt and verifies via the public-auth flow
    assert(post("/api/auth/public",
      s"""{"dashboardId": "$id", "password": "cp-pass"}""").statusCode() == 200)
    // the render route serves the edited content
    val rendered = get(s"/api/dashboards/$id", Some(jwt()))
    assert(rendered.statusCode() == 200 && rendered.body().contains("\"two\""))
    // auth rules: no token 401, dashboard-scoped JWT 401, unknown id 404
    assert(post(s"/api/dashboards/$id/name", """{"name": "x"}""").statusCode() == 401)
    assert(post(s"/api/dashboards/$id/name", """{"name": "x"}""",
      Some(jwt(Some(id)))).statusCode() == 401)
    assert(post("/api/dashboards/nope/name", """{"name": "x"}""",
      Some(session)).statusCode() == 404)
    // delete
    val del = HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:${fixture._2}/api/dashboards/$id"))
      .header("Authorization", s"Bearer $session").DELETE().build()
    assert(client.send(del, HttpResponse.BodyHandlers.ofString()).statusCode() == 200)
    assert(!store.dashboards.contains(id))
  }

  test("folders, move, tasks, users, invites, keys control plane (routes.go:183-217)") {
    val (_, _, _) = fixture
    val store = fixtureStore
    store.tokens.putUser(Tokens.UserRecord("ctl1", "ctl@test.io", "Ctl",
      passwordHash = Some(graft.auth.Passwords.hash("ctl-pass", cost = 4))))
    val session = store.tokens.createSessionForUser("ctl1")
    def s = Some(session)

    // folders: create → rename → move a dashboard in → delete
    val folder = post("/api/folders", """{"name": "F1"}""", s)
    assert(folder.statusCode() == 200)
    val fid = folder.body().split("\"id\":\"")(1).stripSuffix("\"}")
    assert(post(s"/api/folders/$fid/name", """{"name": "F2"}""", s).statusCode() == 200)
    assert(store.folders(fid).name == "F2")
    assert(post("/api/move",
      s"""{"apps": ["demo"], "toFolderId": "$fid"}""", s).statusCode() == 200)
    assert(store.dashboards("demo").folderId.contains(fid))
    assert(post("/api/move", """{"apps": ["demo"]}""", s).statusCode() == 200) // back to root

    // tasks: create → get → edit → run ad-hoc → delete
    val task = post("/api/tasks", """{"name": "T", "content": "SELECT 1;"}""", s)
    assert(task.statusCode() == 200)
    val tid = task.body().split("\"id\":\"")(1).stripSuffix("\"}")
    assert(get(s"/api/tasks/$tid", s).body().contains("\"name\":\"T\""))
    assert(post(s"/api/tasks/$tid/content", """{"content": "SELECT 2;"}""", s).statusCode() == 200)
    assert(store.tasks(tid).content == "SELECT 2;")
    val run = post("/api/run/task", """{"content": "SELECT 41 + 1 AS v;"}""", s)
    assert(run.statusCode() == 200 && run.body().contains("\"success\":true"), run.body())
    val delT = HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:${fixture._2}/api/tasks/$tid"))
      .header("Authorization", s"Bearer $session").DELETE().build()
    assert(client.send(delT, HttpResponse.BodyHandlers.ofString()).statusCode() == 200)
    assert(!store.tasks.contains(tid))

    // users: list includes ctl1; rename; password change keeps this session
    assert(get("/api/users", s).body().contains("ctl@test.io"))
    assert(post("/api/users/ctl1/name", """{"name": "Ctl2"}""", s).statusCode() == 200)
    assert(store.tokens.getUser("ctl1").get.name == "Ctl2")
    assert(post("/api/users/ctl1/password",
      """{"currentPassword": "wrong", "newPassword": "x"}""", s).statusCode() == 400)
    assert(post("/api/users/ctl1/password",
      """{"currentPassword": "ctl-pass", "newPassword": "ctl-pass-2"}""", s).statusCode() == 200)
    assert(post("/api/users", "", s).statusCode() == 405) // still authed: session survived

    // invites: create → public read → claim mints a user → login works
    val inv = post("/api/invites", """{"email": "new@test.io"}""", s)
    assert(inv.statusCode() == 200)
    val code = inv.body().split("\"code\":\"")(1).stripSuffix("\"}")
    assert(get(s"/api/invites/$code").body().contains("new@test.io")) // public
    val claim = post(s"/api/invites/$code/claim",
      """{"name": "Newbie", "password": "n3w-pass"}""")
    assert(claim.statusCode() == 200, claim.body())
    assert(store.invites.isEmpty || !store.invites.contains(code))
    assert(post("/api/auth/login",
      """{"email": "new@test.io", "password": "n3w-pass"}""").statusCode() == 200)
    assert(post(s"/api/invites/$code/claim",
      """{"name": "Again", "password": "x"}""").statusCode() == 400) // burned

    // keys: create → list → narrow permissions → the narrowed key loses /api/sql
    val keyResp = post("/api/keys",
      """{"name": "k-ctl", "permissions": ["data:query"]}""", s)
    assert(keyResp.statusCode() == 200)
    val newKey = keyResp.body().split("\"key\":\"")(1).stripSuffix("\"}")
    assert(get("/api/keys", s).body().contains("k-ctl"))
    assert(post("/api/sql", """{"sql": "SELECT 1 AS x"}""", Some(newKey)).statusCode() == 200)
    val kid = graft.auth.Tokens.apiKeyId(newKey)
    assert(post(s"/api/keys/$kid/permissions", """{"permissions": []}""", s).statusCode() == 200)
    assert(post("/api/sql", """{"sql": "SELECT 1 AS x"}""", Some(newKey)).statusCode() == 403)
  }

  test("POST /api/logout invalidates the session (routes.go:183)") {
    val (_, _, _) = fixture
    val store = fixtureStore
    store.tokens.putUser(Tokens.UserRecord("lo1", "lo@test.io", "LO"))
    val session = store.tokens.createSessionForUser("lo1")
    assert(post("/api/dashboards", """{"name": "T", "content": ""}""",
      Some(session)).statusCode() == 200)
    assert(post("/api/logout", "", Some(session)).statusCode() == 200)
    // session no longer authenticates
    assert(post("/api/dashboards", """{"name": "T2", "content": ""}""",
      Some(session)).statusCode() == 401)
    assert(post("/api/logout", "", Some(session)).statusCode() == 401)
  }

  test("POST /api/auth/public: visibility flow (auth.go:237-300)") {
    val (_, _, _) = fixture
    val store = fixtureStore
    // private → 404
    assert(post("/api/auth/public", """{"dashboardId": "demo"}""").statusCode() == 404)
    store.dashboards("pub") = StateJournal.DashboardMeta(
      "pub", "Pub", "SELECT 1;", None, Some("public"), 0L, "t")
    val ok = post("/api/auth/public", """{"dashboardId": "pub"}""")
    assert(ok.statusCode() == 200 && ok.body().contains("\"jwt\":"))
    store.dashboards("locked") = StateJournal.DashboardMeta(
      "locked", "Locked", "SELECT 1;", None, Some("password-protected"), 0L, "t",
      passwordHash = Some(graft.auth.Passwords.hash("s3cret", cost = 4)))
    assert(post("/api/auth/public", """{"dashboardId": "locked"}""").statusCode() == 401)
    assert(post("/api/auth/public",
      """{"dashboardId": "locked", "password": "wrong"}""").statusCode() == 401)
    assert(post("/api/auth/public",
      """{"dashboardId": "locked", "password": "s3cret"}""").statusCode() == 200)
  }

  test("POST /api/validate: valid, invalid SQL, task rejected, dashboard-JWT rejected (validate.go:25-70)") {
    val ok = post("/api/validate",
      """{"type": "dashboard", "sql": "SELECT r_name FROM region"}""", Some(jwt()))
    assert(ok.statusCode() == 200)
    assert(ok.body().contains("\"valid\":true") && ok.body().contains("\"duration\":"))

    val bad = post("/api/validate",
      """{"type": "dashboard", "sql": "SELECT FROM nowhere_t"}""", Some(jwt()))
    assert(bad.statusCode() == 200)
    assert(bad.body().contains("\"valid\":false") && bad.body().contains("\"error\":"))

    val task = post("/api/validate", """{"type": "task", "sql": "SELECT 1"}""", Some(jwt()))
    assert(task.statusCode() == 400 && task.body().contains("not supported"))

    assert(post("/api/validate", """{"type": "dashboard", "sql": "SELECT 1"}""",
      Some(jwt(Some("demo")))).statusCode() == 401)
  }

  test("schema ignore-list hides db/schema/object entries (duckdb_schema.go:346-360)") {
    val ss = spark.newSession()
    Tables.registerAll(ss, dir)
    val full = graft.catalog.Catalog.schemaJson(ss)
    assert(full.contains("\"lineitem\"") && full.contains("\"region\""))
    // one object
    val noLineitem = graft.catalog.Catalog.schemaJson(ss, Seq("memory.main.lineitem"))
    assert(!noLineitem.contains("\"lineitem\"") && noLineitem.contains("\"region\""))
    // whole schema / whole database
    val noSchema = graft.catalog.Catalog.schemaJson(ss, Seq("memory.main"))
    assert(!noSchema.contains("\"lineitem\"") && noSchema.contains("\"schemas\":[]"))
    val noDb = graft.catalog.Catalog.schemaJson(ss, Seq("memory"))
    assert(noDb.contains("\"databases\":[]"))
    // non-matching entries hide nothing
    val other = graft.catalog.Catalog.schemaJson(ss, Seq("otherdb", "memory.other"))
    assert(other.contains("\"lineitem\""))
  }

  test("GET /api/system/config is public; /api/version needs auth (system.go:12-31)") {
    val r = get("/api/system/config")
    assert(r.statusCode() == 200)
    assert(r.body().contains("\"loginRequired\":true"))
    assert(r.body().contains("\"tasksEnabled\":true"))
    assert(r.body().contains("\"jwtSecretStatic\":false"))
    assert(get("/api/version").statusCode() == 401)
    val v = get("/api/version", Some(jwt()))
    assert(v.statusCode() == 200 && v.body().contains("\"version\":"))
  }

  test("POST /api/auth/setup: open only while no user exists (auth.go:302-339)") {
    val store2 = new StateJournal.MetaStore()
    val api2 = new HttpApi(spark, store2, "setup-secret")
    val port2 = api2.start()
    try {
      def post2(path: String, payload: String, token: Option[String] = None) = {
        val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port2$path"))
        token.foreach(t => b.header("Authorization", s"Bearer $t"))
        client.send(b.POST(HttpRequest.BodyPublishers.ofString(payload)).build(),
          HttpResponse.BodyHandlers.ofString())
      }
      assert(post2("/api/auth/setup", """{"name": "A", "password": "pw"}""")
        .statusCode() == 400) // email required
      assert(post2("/api/auth/setup", """{"email": "a@t.io", "name": "A"}""")
        .statusCode() == 400) // password required
      val ok = post2("/api/auth/setup",
        """{"email": "a@t.io", "name": "A", "password": "pw-setup"}""")
      assert(ok.statusCode() == 200, ok.body())
      assert(ok.body().contains("\"id\":") && ok.body().contains("\"token\":"))
      val token = ok.body().split("\"token\":\"")(1).stripSuffix("\"}")
      // the minted session authenticates immediately
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port2/api/version"))
        .header("Authorization", s"Bearer $token")
      assert(client.send(b.GET().build(), HttpResponse.BodyHandlers.ofString())
        .statusCode() == 200)
      // and the door is now shut
      assert(post2("/api/auth/setup",
        """{"email": "b@t.io", "password": "x"}""").statusCode() == 409)
      // the created password round-trips through login
      assert(post2("/api/auth/login",
        """{"email": "a@t.io", "password": "pw-setup"}""").statusCode() == 200)
    } finally api2.stop()
  }

  test("POST /api/deploy: create with folder path, update, delete, errors (deploy.go:26-220)") {
    val store = fixtureStore
    store.tokens.putUser(Tokens.UserRecord("dep1", "dep@test.io", "Dep"))
    val session = store.tokens.createSessionForUser("dep1")
    def s = Some(session)
    // create a dashboard deep in an auto-created folder chain + a task
    val created = post("/api/deploy",
      """{"apps": [
        {"operation": "create", "type": "dashboard",
         "data": {"id": "depl-d1", "name": "Deployed", "path": "/depl/sub/",
                  "content": "SELECT 1 AS one;"}},
        {"operation": "create", "type": "task",
         "data": {"id": "depl-t1", "name": "DeployedTask", "path": "/",
                  "content": "SELECT 2;"}}
      ]}""", s)
    assert(created.statusCode() == 200, created.body())
    assert(created.body().contains("\"status\":\"created\""))
    assert(store.dashboards.contains("depl-d1") && store.tasks.contains("depl-t1"))
    val folderId = store.dashboards("depl-d1").folderId
    assert(folderId.isDefined)
    assert(store.folders(folderId.get).name == "sub")
    // update content + move path
    val updated = post("/api/deploy",
      """{"apps": [{"operation": "update", "type": "dashboard",
        "data": {"id": "depl-d1", "content": "SELECT 9 AS nine;", "path": "/"}}]}""", s)
    assert(updated.statusCode() == 200, updated.body())
    assert(store.dashboards("depl-d1").content == "SELECT 9 AS nine;")
    assert(store.dashboards("depl-d1").folderId.isEmpty)
    // errors: duplicate create id, unknown type, missing fields, not found
    assert(post("/api/deploy",
      """{"apps": [{"operation": "create", "type": "dashboard",
        "data": {"id": "depl-d1", "name": "X", "path": "/", "content": ""}}]}""",
      s).statusCode() == 400)
    val badType = post("/api/deploy",
      """{"apps": [{"operation": "create", "type": "widget", "data": {}}]}""", s)
    assert(badType.statusCode() == 400 && badType.body().contains("apps[0]"))
    assert(post("/api/deploy", """{"apps": []}""", s).statusCode() == 400)
    assert(post("/api/deploy",
      """{"apps": [{"operation": "delete", "type": "task", "data": {"id": "ghost"}}]}""",
      s).statusCode() == 400)
    assert(post("/api/deploy", """{"apps": [{"operation": "create"}]}""").statusCode() == 401)
    // delete both
    val deleted = post("/api/deploy",
      """{"apps": [
        {"operation": "delete", "type": "dashboard", "data": {"id": "depl-d1"}},
        {"operation": "delete", "type": "task", "data": {"id": "depl-t1"}}
      ]}""", s)
    assert(deleted.statusCode() == 200)
    assert(!store.dashboards.contains("depl-d1") && !store.tasks.contains("depl-t1"))
  }

  test("GET /api/apps lists dashboards+tasks with path/query/sort/limit (apps.go:15-100)") {
    val store = fixtureStore
    store.tokens.putUser(Tokens.UserRecord("ls1", "ls@test.io", "Ls"))
    val session = store.tokens.createSessionForUser("ls1")
    def s = Some(session)
    assert(post("/api/deploy",
      """{"apps": [
        {"operation": "create", "type": "dashboard",
         "data": {"id": "ls-d1", "name": "Alpha Board", "path": "/ls/", "content": "SELECT 1;"}},
        {"operation": "create", "type": "dashboard",
         "data": {"id": "ls-d2", "name": "Beta Board", "path": "/ls/", "content": "SELECT 2;"}},
        {"operation": "create", "type": "task",
         "data": {"id": "ls-t1", "name": "Gamma Task", "path": "/ls/", "content": "SELECT 3;"}}
      ]}""", s).statusCode() == 200)
    // path-scoped listing, name-sorted ascending
    val r = get("/api/apps?path=/ls/&sort=name&order=asc", s)
    assert(r.statusCode() == 200, r.body())
    val ids = "\"id\":\"(ls-[a-z0-9]+)\"".r.findAllMatchIn(r.body()).map(_.group(1)).toList
    assert(ids == List("ls-d1", "ls-d2", "ls-t1"), ids)
    assert(!r.body().contains("\"content\"")) // content withheld by default
    assert(r.body().contains("\"path\":\"/ls/\""))
    assert(r.body().contains("\"type\":\"task\""))
    // name query filter + include_content
    val q = get("/api/apps?path=/ls/&query=beta&include_content=true", s)
    assert(q.body().contains("ls-d2") && !q.body().contains("ls-d1"))
    assert(q.body().contains("\"content\":\"SELECT 2;\""))
    // root non-recursive misses them; recursive finds them
    assert(!get("/api/apps", s).body().contains("ls-d1"))
    assert(get("/api/apps?recursive=true", s).body().contains("ls-d1"))
    // missing trailing slash means the same folder, and a recursive
    // prefix on /ls must not swallow a sibling /ls2/
    assert(get("/api/apps?path=/ls", s).body().contains("ls-d1"))
    assert(post("/api/deploy",
      """{"apps": [{"operation": "create", "type": "dashboard",
        "data": {"id": "ls2-d9", "name": "Sib", "path": "/ls2/", "content": ""}}]}""",
      s).statusCode() == 200)
    assert(!get("/api/apps?path=/ls&recursive=true", s).body().contains("ls2-d9"))
    post("/api/deploy",
      """{"apps": [{"operation": "delete", "type": "dashboard", "data": {"id": "ls2-d9"}}]}""", s)
    // limit/offset window + page math
    val lim = get("/api/apps?path=/ls/&sort=name&order=asc&limit=2&offset=2", s)
    assert(lim.body().contains("ls-t1") && !lim.body().contains("ls-d1"))
    assert(lim.body().contains("\"page\":2") && lim.body().contains("\"pageSize\":2"))
    // invalid params are 400s; auth rules hold
    assert(get("/api/apps?limit=-1", s).statusCode() == 400)
    assert(get("/api/apps?recursive=maybe", s).statusCode() == 400)
    assert(get("/api/apps").statusCode() == 401)
    assert(get("/api/apps", Some(jwt(Some("demo")))).statusCode() == 401)
    // cleanup
    post("/api/deploy",
      """{"apps": [
        {"operation": "delete", "type": "dashboard", "data": {"id": "ls-d1"}},
        {"operation": "delete", "type": "dashboard", "data": {"id": "ls-d2"}},
        {"operation": "delete", "type": "task", "data": {"id": "ls-t1"}}
      ]}""", s)
  }

  test("GET /api/dashboards/:id/info and /api/public/:id/status (dashboard.go:120,857)") {
    val store = fixtureStore
    store.tokens.putUser(Tokens.UserRecord("in1", "in@test.io", "In"))
    val session = store.tokens.createSessionForUser("in1")
    val info = get("/api/dashboards/demo/info", Some(session))
    assert(info.statusCode() == 200, info.body())
    assert(info.body().contains("\"id\":\"demo\"") && info.body().contains("\"path\":\"/\""))
    assert(info.body().contains("\"type\":\"dashboard\"") && info.body().contains("\"content\":"))
    assert(get("/api/dashboards/nope/info", Some(session)).statusCode() == 404)
    assert(get("/api/dashboards/demo/info").statusCode() == 401)
    assert(get("/api/dashboards/demo/info", Some(jwt(Some("demo")))).statusCode() == 401)
    // status: private → 404 (indistinguishable from missing), public → 200
    assert(get("/api/public/demo/status").statusCode() == 404)
    assert(get("/api/public/ghost/status").statusCode() == 404)
    store.dashboards("pubst") = StateJournal.DashboardMeta(
      "pubst", "P", "SELECT 1;", None, Some("public"), 0L, "t")
    val st = get("/api/public/pubst/status")
    assert(st.statusCode() == 200 && st.body().contains("\"visibility\":\"public\""))
    // the render JSON carries visibility from metadata (GetResult shape,
    // core/dashboard.go:27-37); a private dashboard omits the field
    val rendered = get("/api/dashboards/pubst", Some(jwt()))
    assert(rendered.body().contains("\"visibility\":\"public\""), rendered.body())
    assert(!get("/api/dashboards/demo", Some(jwt())).body().contains("\"visibility\""))
    store.dashboards.remove("pubst")
    // full task shape on GET /api/tasks/:id (core/task.go:16-31)
    assert(post("/api/tasks", """{"name": "TS", "content": "SELECT 5;"}""",
      Some(session)).statusCode() == 200)
    val tid2 = store.tasks.values.find(_.name == "TS").get.id
    val taskJson = get(s"/api/tasks/$tid2", Some(session)).body()
    assert(taskJson.contains("\"path\":\"/\"") && taskJson.contains("\"createdAt\":") &&
      taskJson.contains("\"updatedAt\":"), taskJson)
    store.tasks.remove(tid2)
  }

  test("dashboard download intent: mint URL, redeem csv/xlsx/png, expiry semantics (dashboard.go:390-590)") {
    // mint with a dashboard-scoped JWT and an explicit query_id
    val mint = get("/api/dashboards/demo/download/data.csv?query_id=1",
      Some(jwt(Some("demo"))))
    assert(mint.statusCode() == 200, mint.body())
    val url = mint.body().split("\"url\":\"")(1).stripSuffix("\"}")
    assert(url.startsWith("/api/download/") && url.endsWith("/data.csv"))
    // redeem with NO auth header — the key is the credential
    val got = get(url)
    assert(got.statusCode() == 200, got.body())
    assert(got.body().startsWith("r_name") && got.body().contains("EUROPE"))
    assert(got.headers().firstValue("Content-Disposition").orElse("").contains("data.csv"))
    // xlsx comes back as a real zip container (PK magic)
    val mintX = get("/api/dashboards/demo/download/data.xlsx?query_id=1", Some(jwt()))
    val urlX = mintX.body().split("\"url\":\"")(1).stripSuffix("\"}")
    val (_, port, _) = fixture
    val rx = client.send(HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:$port$urlX")).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    assert(rx.statusCode() == 200)
    assert(rx.body()(0) == 'P'.toByte && rx.body()(1) == 'K'.toByte)
    // png renders the whole dashboard
    val mintP = get("/api/dashboards/demo/download/board.png", Some(jwt()))
    val urlP = mintP.body().split("\"url\":\"")(1).stripSuffix("\"}")
    val rp = client.send(HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:$port$urlP")).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    assert(rp.statusCode() == 200)
    assert(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(rp.body())) != null)
    // guard rails: bad extension 400, wrong-dashboard JWT 401, no auth 401,
    // unknown key 404
    assert(get("/api/dashboards/demo/download/data.exe", Some(jwt())).statusCode() == 400)
    assert(get("/api/dashboards/demo/download/data.csv",
      Some(jwt(Some("other")))).statusCode() == 401)
    assert(get("/api/dashboards/demo/download/data.csv").statusCode() == 401)
    assert(get("/api/download/" + "0" * 64 + "/data.csv").statusCode() == 404)
    // a rewritten extension must not escalate a csv intent into a
    // whole-dashboard render: the redeemed filename is pinned at mint
    val key = url.stripPrefix("/api/download/").stripSuffix("/data.csv")
    assert(get(s"/api/download/$key/data.pdf").statusCode() == 404)
    // cross-dashboard pdf (ValidateDashboardDownload,
    // get_dashboard.go:402-520): a JWT scoped to a SOURCE dashboard may
    // mint a pdf for a TARGET only when the source renders a pdf button
    // pointing at that target
    fixtureStore.dashboards("linker") = StateJournal.DashboardMeta(
      "linker", "Linker", "SELECT 'report'::DOWNLOAD_PDF, 'demo'::ID;",
      None, None, 0L, "t")
    assert(get("/api/dashboards/demo/download/report.pdf",
      Some(jwt(Some("linker")))).statusCode() == 200)
    // only the EXACT filename the source renders is authorized
    assert(get("/api/dashboards/demo/download/other.pdf",
      Some(jwt(Some("linker")))).statusCode() == 401)
    // ...but not a csv, and not a target the source never links
    assert(get("/api/dashboards/demo/download/report.csv",
      Some(jwt(Some("linker")))).statusCode() == 401)
    fixtureStore.dashboards("unlinked") = StateJournal.DashboardMeta(
      "unlinked", "U", "SELECT 1 AS one;", None, None, 0L, "t")
    assert(get("/api/dashboards/demo/download/report.pdf",
      Some(jwt(Some("unlinked")))).statusCode() == 401)
    fixtureStore.dashboards.remove("linker")
    fixtureStore.dashboards.remove("unlinked")
  }

  test("POST /api/admin/reset-jwt-secret kills JWTs, spares sessions (auth.go:341-358)") {
    val store3 = new StateJournal.MetaStore()
    store3.dashboards("d3") = StateJournal.DashboardMeta(
      "d3", "D3", "SELECT 1;", None, None, 0L, "t")
    store3.tokens.putUser(Tokens.UserRecord("r1", "r@t.io", "R"))
    val session = store3.tokens.createSessionForUser("r1")
    val api3 = new HttpApi(spark, store3, "rot-secret")
    val port3 = api3.start()
    try {
      def req(path: String, token: String, postBody: Option[String] = None) = {
        val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port3$path"))
          .header("Authorization", s"Bearer $token")
        postBody.foreach(p => b.POST(HttpRequest.BodyPublishers.ofString(p)))
        client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      }
      val oldJwt = Auth.sign(Auth.Claims(None, Map.empty, isPublic = false,
        longLived = false, exp = System.currentTimeMillis() / 1000 + 900), "rot-secret")
      assert(req("/api/dashboards/d3", oldJwt).statusCode() == 200)
      assert(req("/api/admin/reset-jwt-secret", session, Some("")).statusCode() == 200)
      // every outstanding JWT is dead; the session still works
      assert(req("/api/dashboards/d3", oldJwt).statusCode() == 401)
      assert(req("/api/version", session).statusCode() == 200)
      // the rotation is journaled state, not a process field: a second
      // HttpApi over the same store (a restarted/replayed node) must
      // also refuse the old secret's JWTs
      assert(store3.jwtSecretOverride.isDefined)
      val api4 = new HttpApi(spark, store3, "rot-secret")
      val port4 = api4.start()
      try {
        val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port4/api/dashboards/d3"))
          .header("Authorization", s"Bearer $oldJwt")
        assert(client.send(b.GET().build(), HttpResponse.BodyHandlers.ofString())
          .statusCode() == 401)
      } finally api4.stop()
    } finally api3.stop()
  }

  test("updatedAt tracks journaled edits; taskInfo rides the apps listing (list_apps.go:164-190)") {
    val store5 = new StateJournal.MetaStore()
    store5.tokens.putUser(Tokens.UserRecord("up1", "up@t.io", "Up"))
    val session = store5.tokens.createSessionForUser("up1")
    val runsDir = java.nio.file.Files.createTempDirectory("graft-runs").toString
    val runs = new StateJournal.TaskRunLog(runsDir)
    runs.publish("up-t1", 1700000000000L, success = true, 42L, Some(1700003600000L), "interval")
    runs.boot()
    val api5 = new HttpApi(spark, store5, "up-secret", taskRuns = runs)
    val port5 = api5.start()
    try {
      def req(method: String, path: String, payload: String) = {
        val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port5$path"))
          .header("Authorization", s"Bearer $session")
        val r = if (method == "GET") b.GET() else
          b.POST(HttpRequest.BodyPublishers.ofString(payload))
        client.send(r.build(), HttpResponse.BodyHandlers.ofString())
      }
      assert(req("POST", "/api/deploy",
        """{"apps": [
          {"operation": "create", "type": "dashboard",
           "data": {"id": "up-d1", "name": "U", "path": "/", "content": "SELECT 1;"}},
          {"operation": "create", "type": "task",
           "data": {"id": "up-t1", "name": "UT", "path": "/", "content": "SELECT 2;"}}
        ]}""").statusCode() == 200)
      val before = store5.dashboards("up-d1").updatedAt
      Thread.sleep(5)
      assert(req("POST", "/api/dashboards/up-d1/name", """{"name": "U2"}""").statusCode() == 200)
      val after = store5.dashboards("up-d1").updatedAt
      assert(after > before, s"updatedAt did not move: $before -> $after")
      val listed = req("GET", "/api/apps", "")
      assert(listed.body().contains("\"updatedAt\":" +
        "\"" + java.time.Instant.ofEpochMilli(after).toString + "\""))
      // the edited dashboard now outranks the task under the default
      // updated_at desc sort
      val order = "\"id\":\"(up-[a-z0-9]+)\"".r.findAllMatchIn(listed.body()).map(_.group(1)).toList
      assert(order.head == "up-d1", order)
      // taskInfo from the TaskRunLog consumer
      assert(listed.body().contains("\"taskInfo\":{\"lastRunAt\":\"2023-11-14T22:13:20Z\"") &&
        listed.body().contains("\"lastRunSuccess\":true") &&
        listed.body().contains("\"nextRunType\":\"interval\""), listed.body())
    } finally api5.stop()
  }

  test("task API writes reach a wired live scheduler without a restart") {
    val store6 = new StateJournal.MetaStore()
    store6.tokens.putUser(Tokens.UserRecord("sc1", "sc@t.io", "Sc"))
    val session = store6.tokens.createSessionForUser("sc1")
    val sched = new graft.tasks.TaskScheduler(spark)
    val api6 = new HttpApi(spark, store6, "sched-secret", scheduler = sched)
    val port6 = api6.start()
    try {
      def req(method: String, path: String, payload: String) = {
        val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port6$path"))
          .header("Authorization", s"Bearer $session")
        val r = method match {
          case "GET" => b.GET()
          case "DELETE" => b.DELETE()
          case _ => b.POST(HttpRequest.BodyPublishers.ofString(payload))
        }
        client.send(r.build(), HttpResponse.BodyHandlers.ofString())
      }
      // create with an init SCHEDULE: the wired scheduler runs it NOW
      val created = req("POST", "/api/tasks",
        """{"name": "Live", "content": "SELECT 'init'::SCHEDULE;\nSELECT 6 AS v;"}""")
      assert(created.statusCode() == 200)
      val id = created.body().split("\"id\":\"")(1).stripSuffix("\"}")
      assert(sched.lastResult(id).exists(_.success),
        "API-created task did not reach the live scheduler")
      // delete cancels any pending timer (no throw = handle removed)
      assert(req("DELETE", s"/api/tasks/$id", "").statusCode() == 200)
    } finally { api6.stop(); sched.close() }
  }

  test("GET /metrics serves Prometheus counters behind the metrics permission (routes.go:163)") {
    val store = fixtureStore
    val (_, metricsKey) = store.tokens.createApiKey("metrics-key",
      Seq(Tokens.Permission.ReadMetrics), Tokens.Actor(Tokens.ActorType.User, "u1"))
    get("/health") // ensure at least one counted request
    assert(get("/metrics").statusCode() == 401)
    val (_, _, queryKey) = fixture
    assert(get("/metrics", Some(queryKey)).statusCode() == 403) // lacks metrics perm
    val r = get("/metrics", Some(metricsKey))
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").orElse("").startsWith("text/plain"))
    assert(r.body().contains("# TYPE graft_http_requests_total counter"))
    assert(r.body().contains("""graft_http_requests_total{route="/health",method="GET",status="200"}"""))
  }

  /** The value of an unlabelled sample on `/metrics`. */
  private def metric(metricsKey: String, name: String): Long = {
    val body = get("/metrics", Some(metricsKey)).body()
    body.linesIterator.collectFirst {
      case l if l.startsWith(name + " ") => l.split(' ')(1).toLong
    }.getOrElse(fail(s"no $name sample:\n$body"))
  }

  /** A fresh ingest target and a dashboard `id` that reads it. */
  private def liveDashboard(id: String, table: String, content: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"), table)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    fixtureStore.dashboards(id) = StateJournal.DashboardMeta(id, id, content, None, None, 0L, "test")
  }

  test("GET /metrics exports codegen compiles; a repeated render adds none") {
    val (_, metricsKey) = fixtureStore.tokens.createApiKey("codegen-metrics-key",
      Seq(Tokens.Permission.ReadMetrics), Tokens.Actor(Tokens.ActorType.User, "u1"))
    val (_, _, key) = fixture
    assert(get("/metrics", Some(metricsKey)).body()
      .contains("# TYPE graft_codegen_compiles_total counter"))
    // an ingest before each render changes the table's files, so the
    // repeated render misses the result cache and runs its statement again
    liveDashboard("codegen", "http_codegen",
      "SELECT kind, count(*) AS n, sum(v) AS total FROM http_codegen GROUP BY kind ORDER BY kind;")
    def ingestThenRender(): Unit = {
      assert(post("/api/data/http_codegen", """{"kind": "a", "v": 1}""", Some(key)).statusCode() == 202)
      assert(get("/api/dashboards/codegen", Some(jwt())).statusCode() == 200)
    }
    ingestThenRender()
    val afterFirst = metric(metricsKey, "graft_codegen_compiles_total")
    val missesAfterFirst = metric(metricsKey, "graft_result_cache_misses_total")
    ingestThenRender()
    assert(metric(metricsKey, "graft_result_cache_misses_total") > missesAfterFirst,
      "the second render was answered from the result cache")
    val afterSecond = metric(metricsKey, "graft_codegen_compiles_total")
    assert(afterSecond == afterFirst,
      s"the second render compiled ${afterSecond - afterFirst} classes")
  }

  test("GET /metrics result-cache counters: a repeat render hits, an ingest merges") {
    val (_, metricsKey) = fixtureStore.tokens.createApiKey("cache-metrics-key",
      Seq(Tokens.Permission.ReadMetrics), Tokens.Actor(Tokens.ActorType.User, "u1"))
    val (_, _, key) = fixture
    val body = get("/metrics", Some(metricsKey)).body()
    Seq("graft_result_cache_hits_total counter", "graft_result_cache_text_hits_total counter",
      "graft_result_cache_misses_total counter",
      "graft_result_cache_incremental_total counter", "graft_result_cache_bytes gauge",
      "graft_result_cache_entries gauge", "graft_request_session_states_total counter",
      "graft_dialect_rewrites_total counter").foreach(t => assert(body.contains(s"# TYPE $t"), body))
    // two aggregate statements over the ingest table, each answered from
    // its cached state plus the new file after an ingest
    liveDashboard("cachelive", "http_cache_live",
      "SELECT 'Live events'::LABEL;\nSELECT count(*) AS n FROM http_cache_live;\n" +
        "SELECT count(v) AS c, max(v) AS top FROM http_cache_live;")
    def ingest(n: Int): Unit = assert(post("/api/data/http_cache_live",
      (1 to n).map(i => s"""{"v": $i}""").mkString("[", ",", "]"), Some(key)).statusCode() == 202)
    val rowsJson = "\"rows\":\\[\\[(\\d+)\\]\\]".r
    def renderedCount(): Long = {
      val r = get("/api/dashboards/cachelive", Some(jwt()))
      assert(r.statusCode() == 200, r.body())
      rowsJson.findFirstMatchIn(r.body()).map(_.group(1).toLong)
        .getOrElse(fail(s"no count in ${r.body()}"))
    }
    def counters() = (metric(metricsKey, "graft_result_cache_hits_total"),
      metric(metricsKey, "graft_result_cache_incremental_total"),
      metric(metricsKey, "graft_result_cache_misses_total"))

    ingest(2)
    assert(renderedCount() == 2)
    val (h1, i1, m1) = counters()
    assert(metric(metricsKey, "graft_result_cache_bytes") > 0)
    assert(metric(metricsKey, "graft_result_cache_entries") >= 3)
    assert(renderedCount() == 2)
    val (h2, i2, m2) = counters()
    assert((h2 - h1, i2 - i1, m2 - m1) == (3, 0, 0), "second render: (hits, incremental, misses)")
    ingest(3)
    assert(renderedCount() == 5)
    val (h3, i3, m3) = counters()
    assert((h3 - h2, i3 - i2, m3 - m2) == (1, 2, 0), "after ingest: (hits, incremental, misses)")

    // The fixture's prepare hook gives every request temp views, so its
    // statements are never answered from text. A server without one
    // answers a repeat of an unchanged render before Spark parses it,
    // and builds no session state for it.
    val plain = new HttpApi(spark, fixtureStore, secret)
    val plainPort = plain.start()
    def textHits() = metric(metricsKey, "graft_result_cache_text_hits_total")
    def statesBuilt() = metric(metricsKey, "graft_request_session_states_total")
    def rewrites() = metric(metricsKey, "graft_dialect_rewrites_total")
    def renderPlain(): String = {
      val r = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$plainPort/api/dashboards/cachelive"))
        .header("Authorization", s"Bearer ${jwt()}").GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, r.body())
      r.body()
    }
    try {
      val first = renderPlain()
      val (h4, i4, m4) = counters()
      val t4 = textHits()
      val s4 = statesBuilt()
      val r4 = rewrites()
      assert(renderPlain() == first)
      val (h5, i5, m5) = counters()
      assert((h5 - h4, i5 - i4, m5 - m4) == (3, 0, 0), "unchanged render: (hits, incremental, misses)")
      assert(textHits() - t4 == 3, "unchanged render: text hits")
      assert(statesBuilt() - s4 == 0, "unchanged render: session states built")
      assert(rewrites() - r4 == 0, "unchanged render: statement texts rewritten")
    } finally plain.stop()
  }

  test("temporary dashboards: TTL'd preview store, never journaled (create_dashboard.go:31-52)") {
    val (api, _, apiKey) = fixture
    val store = fixtureStore
    // API key (query-data) may create ONLY temporary dashboards
    // (handler/dashboard.go:69-75)
    val denied = post("/api/dashboards",
      """{"name": "T", "content": "SELECT 1 AS x;"}""", Some(apiKey))
    assert(denied.statusCode() == 401 && denied.body().contains("temporary"))
    val created = post("/api/dashboards",
      """{"name": "T", "content": "SELECT 1 AS x;", "path": "/", "temporary": true}""",
      Some(apiKey))
    assert(created.statusCode() == 200, created.body())
    val id = created.body().split("\"id\":\"")(1).stripSuffix("\"}")
    assert(id.startsWith(HttpApi.TmpDashboardPrefix)) // reference prefix, byte-identical
    assert(!store.dashboards.contains(id)) // never journaled
    // renders under a plain JWT like any dashboard, always private
    val rendered = get(s"/api/dashboards/$id", Some(jwt()))
    assert(rendered.statusCode() == 200 && rendered.body().contains("\"x\""), rendered.body())
    assert(rendered.body().contains("\"private\""))
    // info resolves the tmp entry (edit_dashboard.go:47-75)
    store.tokens.putUser(Tokens.UserRecord("tmp1", "tmp@test.io", "Tmp"))
    val session = store.tokens.createSessionForUser("tmp1")
    val info = get(s"/api/dashboards/$id/info", Some(session))
    assert(info.statusCode() == 200 && info.body().contains("\"name\":\"T\""))
    assert(info.body().contains("\"visibility\":\"private\""))
    // absent from the apps listing
    assert(!get("/api/apps?recursive=true", Some(session)).body().contains(id))
    // the content edit updates the store in place; name/visibility 404
    // (only SaveDashboardQuery resolves tmp ids, edit_dashboard.go:189)
    assert(post(s"/api/dashboards/$id/query",
      """{"content": "SELECT 2 AS y;"}""", Some(session)).statusCode() == 200)
    assert(get(s"/api/dashboards/$id", Some(jwt())).body().contains("\"y\""))
    assert(post(s"/api/dashboards/$id/name", """{"name": "N"}""",
      Some(session)).statusCode() == 404)
    assert(post(s"/api/dashboards/$id/visibility", """{"visibility": "public"}""",
      Some(session)).statusCode() == 404)
    // DELETE sees only journaled dashboards (delete_dashboard.go:26-31)
    val del = HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:${fixture._2}/api/dashboards/$id"))
      .header("Authorization", s"Bearer $session").DELETE().build()
    assert(client.send(del, HttpResponse.BodyHandlers.ofString()).statusCode() == 404)
    // TTL expiry drops the entry (--tmp-dashboards-ttl, main.go:441)
    api.tmpDashboardTtlMillis = 1L
    try {
      Thread.sleep(10)
      assert(get(s"/api/dashboards/$id", Some(jwt())).statusCode() == 404)
      assert(get(s"/api/dashboards/$id/info", Some(session)).statusCode() == 404)
    } finally api.tmpDashboardTtlMillis = 24L * 60 * 60 * 1000
  }
}
