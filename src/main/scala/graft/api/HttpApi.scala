package graft.api

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.io.StringWriter
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession

import graft.auth.{Auth, Tokens}
import graft.ingest.{IngestPipeline, SchemaInfer}
import graft.interp.{Dashboard, SqlApi, ValidateApi}
import graft.render.Model
import graft.state.StateJournal

/** Thin HTTP slice over the engine — the four data-plane routes of the
  * reference's router (ref: server/web/routes.go:154-217), wired over
  * the existing interpreter / ingest / auth components with the
  * JDK-built-in `com.sun.net.httpserver` (no new dependencies):
  *
  *   - `POST /api/sql`            — API-key auth (query-data permission),
  *     single-statement gate, CSV stream (handler/sql.go:14-80)
  *   - `GET  /api/dashboards/:id` — JWT auth, dashboardId claim scoping,
  *     render JSON (handler/dashboard.go:321-357)
  *   - `POST /api/data/:table`    — API-key auth (ingest permission),
  *     single object or array, returns accepted ids
  *     (handler/events.go:27-80)
  *   - `POST /api/validate`       — JWT auth, dashboard-restricted
  *     tokens rejected, {valid, duration, error}
  *     (handler/validate.go:25-70)
  *
  * plus `GET /health` (routes.go:158), the rendered-download route
  * (`GET /api/render/:id[?format=pdf]`), the auth plane
  * (`POST /api/auth/login`, `/api/auth/token`, `/api/auth/public` —
  * handler/auth.go:42-300: session mint, dashboard-JWT issue/refresh
  * with the scoping/long-lived guard rules, public/password dashboard
  * tokens), and the control plane (routes.go:183-217): dashboard
  * create/edit/delete, folders + move, task CRUD + ad-hoc run, user
  * list/rename/password-rotation/delete, invite create/read/claim,
  * API-key CRUD, logout. Control-plane writes are journal events
  * through `submitFn` (journal-first when a StateApp is wired).
  *
  * Round-4 completion of the router surface: `GET /api/system/config` +
  * `GET /api/version` (system.go), `POST /api/auth/setup` first-user
  * bootstrap, `GET /api/apps` listing with sort/path/query/paging
  * (apps.go over core.ListApps), `GET /api/dashboards/:id/info` +
  * `GET /api/public/:id/status`, `POST /api/deploy` batch
  * create/update/delete with folder auto-creation (deploy.go),
  * the download-intent pair `GET /api/dashboards/:id/download/:filename`
  * → `GET /api/download/:key/:filename` (unguessable-key redemption,
  * dashboard.go:390-590), `POST /api/admin/reset-jwt-secret`, and
  * `GET /metrics` Prometheus counters. Not mapped, by design: the
  * frontend asset/embed routes (routes.go:225-252) — static-file
  * serving for a React bundle is not an analytics-engine workload.
  *
  * Scale note: the server is a stateless front — every request delegates
  * to the same Spark session the engine runs on, so the HTTP layer adds
  * no per-node state beyond the in-memory MetaStore it is handed (which
  * is itself journal-replayable on any node).
  */
object HttpApi {
  /** Deployment switches surfaced by `GET /api/system/config`
    * (ref: handler/system.go:12-24 over the App flags). */
  final case class Config(
      loginRequired: Boolean = true,
      tasksEnabled: Boolean = true,
      editEnabled: Boolean = true,
      publicSharingEnabled: Boolean = true,
      passwordProtectedSharingEnabled: Boolean = true,
      ssoLoginUrl: String = "",
      jwtSecretStatic: Boolean = false,
      version: String = "graft-dev",
      /** `db` / `db.schema` / `db.schema.object` entries hidden from
        * GET /api/schema (the reference's --schema-ignore flags). */
      schemaIgnore: Seq[String] = Nil,
      /** Shared secret gating GET /api/journal/events — the analog of
        * the reference comms token (comms.go Config.Token: NATS token
        * auth between nodes). Empty = the endpoint is disabled; journal
        * events include credential hashes, so this is cluster-internal
        * material, never a user-facing credential. */
      syncToken: String = "")

  /** Temporary-dashboard id prefix, byte-identical to the reference's
    * (core/dashboard.go:12) so preview ids travel between engines. */
  val TmpDashboardPrefix = "shaper-tmp."

  /** Max events per /api/journal/events response — bounds response
    * memory; PeerSync re-polls while batches come back full. */
  val SyncBatchLimit = 1000
}

final class HttpApi(
    spark: SparkSession,
    store: StateJournal.MetaStore,
    jwtSecret: String,
    prepare: SparkSession => Unit = _ => (),
    /** Control-plane write path. The default applies straight to the
      * MetaStore; a deployment with a [[StateJournal.StateApp]] passes
      * `app.submit` so writes go journal-first (SubmitState). */
    submit: (String, String) => Boolean = null,
    config: HttpApi.Config = HttpApi.Config(),
    /** Optional task-runs journal consumer: when wired, the apps
      * listing carries each task's last/next-run `taskInfo` like the
      * reference's task_runs join (list_apps.go:164-190). */
    taskRuns: StateJournal.TaskRunLog = null,
    /** Optional live scheduler: when wired (graft.Serve does), task
      * create/content-update (re)schedules and delete cancels, so API
      * writes take effect without a restart — the reference's handlers
      * call ScheduleTask/UnscheduleTask the same way. */
    scheduler: graft.tasks.TaskScheduler = null,
    /** Optional local journal: when wired together with
      * `config.syncToken`, peers without shared storage replicate this
      * node's events over GET /api/journal/events (see
      * [[graft.state.PeerSync]]). */
    journal: StateJournal.Journal = null) {

  private val submitFn: (String, String) => Boolean =
    if (submit != null) submit
    else (event, json) => store.apply(event, SchemaInfer.parseOrdered(json))

  /** The signing secret, rotatable by `POST /api/admin/reset-jwt-secret`
    * (ref: handler/auth.go:341-358 — every outstanding JWT is
    * invalidated; sessions and API keys, which don't involve the
    * secret, survive). The rotated value lives in the MetaStore and is
    * set through a `reset_jwt_secret` journal event, so it survives a
    * restart and reaches every replaying node — an in-process field
    * would silently revert to the constructor secret and resurrect the
    * leaked JWTs the rotation was meant to kill. */
  private def secret: String = store.jwtSecretOverride.getOrElse(jwtSecret)

  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _

  /** Start on the given port (0 = ephemeral); returns the bound port. */
  def start(port: Int = 0): Int = {
    // The JDK server writes a response's headers and its body as two
    // segments. With Nagle's algorithm on, the body waits for the
    // client's delayed ACK of the headers, 40 ms on Linux, on every
    // response. The server reads this once, when the first one is made.
    if (System.getProperty("sun.net.httpserver.nodelay") == null)
      System.setProperty("sun.net.httpserver.nodelay", "true")
    server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/health", exchange(handleHealth))
    server.createContext("/api/sql", exchange(handleSql))
    server.createContext("/api/validate", exchange(handleValidate))
    server.createContext("/api/data/", exchange(handleData))
    server.createContext("/api/dashboards/", exchange(handleDashboardPath))
    server.createContext("/api/dashboards", exchange(handleCreateDashboard))
    server.createContext("/api/logout", exchange(handleLogout))
    server.createContext("/api/schema", exchange(handleSchema))
    server.createContext("/api/download/", exchange(handleDownload))
    server.createContext("/api/render/", exchange(handleRender))
    server.createContext("/api/auth/login", exchange(handleLogin))
    server.createContext("/api/auth/token", exchange(handleToken))
    server.createContext("/api/auth/public", exchange(handlePublicAuth))
    server.createContext("/api/folders", exchange(handleFolders))
    server.createContext("/api/folders/", exchange(handleFolderPath))
    server.createContext("/api/move", exchange(handleMove))
    server.createContext("/api/tasks", exchange(handleTasks))
    server.createContext("/api/tasks/", exchange(handleTaskPath))
    server.createContext("/api/run/task", exchange(handleRunTask))
    server.createContext("/api/users", exchange(handleUsers))
    server.createContext("/api/users/", exchange(handleUserPath))
    server.createContext("/api/invites", exchange(handleInvites))
    server.createContext("/api/invites/", exchange(handleInvitePath))
    server.createContext("/api/keys", exchange(handleKeys))
    server.createContext("/api/keys/", exchange(handleKeyPath))
    server.createContext("/metrics", exchange(handleMetrics))
    server.createContext("/api/system/config", exchange(handleSystemConfig))
    server.createContext("/api/version", exchange(handleVersion))
    server.createContext("/api/auth/setup", exchange(handleSetup))
    server.createContext("/api/apps", exchange(handleApps))
    server.createContext("/api/public/", exchange(handlePublicStatus))
    server.createContext("/api/deploy", exchange(handleDeploy))
    server.createContext("/api/admin/reset-jwt-secret", exchange(handleResetJwtSecret))
    server.createContext("/api/journal/events", exchange(handleJournalEvents))
    // daemon threads + explicit shutdown: a forgotten stop() must never
    // keep the JVM alive after main returns
    pool = java.util.concurrent.Executors.newFixedThreadPool(4, r => {
      val t = new Thread(r, "graft-http")
      t.setDaemon(true)
      t
    })
    server.setExecutor(pool)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (pool != null) pool.shutdownNow()
  }

  // ---- plumbing ------------------------------------------------------

  /** Client-fault escape hatch: thrown by helpers that detect a bad
    * request after the handler has already started. */
  private final class HttpError(val status: Int, msg: String)
    extends RuntimeException(msg)

  private def exchange(f: HttpExchange => Unit): com.sun.net.httpserver.HttpHandler =
    (ex: HttpExchange) =>
      try f(ex)
      catch {
        case e: HttpError => respond(ex, e.status, jsonError(e.getMessage))
        case e: Exception =>
          respond(ex, 500, jsonError(Option(e.getMessage).getOrElse(e.toString)))
      } finally ex.close()

  /** Request counters behind `GET /metrics` (the reference mounts
    * echoprometheus there, routes.go:163). Keyed by (route-context,
    * method, status) — the CONTEXT path, not the raw request path, so
    * per-id URLs can't grow the map without bound. */
  private val requestCounts =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int), java.util.concurrent.atomic.LongAdder]

  private def countRequest(ex: HttpExchange, status: Int): Unit = {
    val route = Option(ex.getHttpContext).map(_.getPath).getOrElse("?")
    requestCounts.computeIfAbsent((route, ex.getRequestMethod, status),
      _ => new java.util.concurrent.atomic.LongAdder).increment()
  }

  private def respond(ex: HttpExchange, status: Int, body: String,
      contentType: String = "application/json"): Unit = {
    countRequest(ex, status)
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length.toLong)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
  }

  private def jsonError(msg: String): String =
    "{\"error\":" + Model.jsonValue(msg) + "}"

  /** Whole-body payloads share the Spark driver JVM, so cap them —
    * unbounded readAllBytes is an OOM lever for any client. */
  private val MaxBodyBytes = 32 * 1024 * 1024

  private def body(ex: HttpExchange): String = {
    val bytes = ex.getRequestBody.readNBytes(MaxBodyBytes + 1)
    if (bytes.length > MaxBodyBytes)
      throw new HttpError(413, s"request body exceeds $MaxBodyBytes bytes")
    new String(bytes, StandardCharsets.UTF_8)
  }

  private def bearer(ex: HttpExchange): Option[String] =
    Option(ex.getRequestHeaders.getFirst("Authorization"))
      .filter(_.startsWith("Bearer "))
      .map(_.stripPrefix("Bearer ").trim)

  private def queryParams(ex: HttpExchange): Map[String, Seq[String]] =
    Option(ex.getRequestURI.getRawQuery).filter(_.nonEmpty).map { q =>
      // malformed %-escapes are the client's fault, not a 500
      def decode(s: String): String =
        try URLDecoder.decode(s, "UTF-8")
        catch {
          case _: IllegalArgumentException =>
            throw new HttpError(400, "malformed query string")
        }
      q.split("&").toSeq.filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => decode(k) -> decode(v)
          case Array(k) => decode(k) -> ""
        }
      }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    }.getOrElse(Map.empty)

  /** Strip header-breaking characters from a value embedded in
    * Content-Disposition (CR/LF would split the header, quotes and
    * backslashes would escape the quoted-string). */
  private def headerSafe(s: String): String =
    s.replaceAll("[\\p{Cntrl}\"\\\\]", "_")

  /** API-key auth + permission (routes.go keyAuth + RequirePermission). */
  private def requireApiKey(ex: HttpExchange, permission: String): Option[Tokens.Actor] =
    bearer(ex) match {
      case Some(tok) if store.tokens.validateApiKey(tok) =>
        val actor = Tokens.Actor(Tokens.ActorType.ApiKey, Tokens.apiKeyId(tok))
        if (store.tokens.hasPermission(actor, permission)) Some(actor)
        else { respond(ex, 403, jsonError("Missing required permission: " + permission)); None }
      case _ => respond(ex, 401, jsonError("Unauthorized")); None
    }

  private def requireJwt(ex: HttpExchange): Option[Auth.Claims] =
    bearer(ex).map(Auth.verify(_, secret)) match {
      case Some(Right(claims)) => Some(claims)
      case _ => respond(ex, 401, jsonError("Unauthorized")); None
    }

  // ---- routes --------------------------------------------------------

  private def handleHealth(ex: HttpExchange): Unit =
    if (ex.getRequestMethod == "GET" || ex.getRequestMethod == "HEAD")
      respond(ex, 200, "")
    else respond(ex, 405, jsonError("method not allowed"))

  /** POST /api/sql — {sql} → one gated statement → CSV (sql.go:14-80). */
  private def handleSql(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") return respond(ex, 405, jsonError("method not allowed"))
    if (requireApiKey(ex, Tokens.Permission.QueryData).isEmpty) return
    val sql = try {
      SchemaInfer.parseOrdered(body(ex)).map.get("sql") match {
        case Some(SchemaInfer.JString(s)) => s.trim
        case _ => ""
      }
    } catch { case _: Exception => return respond(ex, 400, jsonError("Invalid request body")) }
    if (sql.isEmpty) return respond(ex, 400, jsonError("SQL is required"))
    val out = new StringWriter
    SqlApi.runSingleToCSV(spark, sql, out, prepare = prepare) match {
      case Left(err) => respond(ex, 400, jsonError(err))
      case Right(()) =>
        ex.getResponseHeaders.set("X-Content-Type-Options", "nosniff")
        respond(ex, 200, out.toString, contentType = "text/csv")
    }
  }

  /** POST /api/validate — {type, sql} → {valid, duration[, error]}
    * (validate.go:25-70; dashboard-scoped JWTs are rejected). */
  private def handleValidate(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") return respond(ex, 405, jsonError("method not allowed"))
    if (requireDeployKeyOrUser(ex)) {
      val (tpe, sql) = try {
        val o = SchemaInfer.parseOrdered(body(ex))
        def str(k: String) = o.map.get(k).collect { case SchemaInfer.JString(s) => s }.getOrElse("")
        (str("type"), str("sql"))
      } catch { case _: Exception => return respond(ex, 400, jsonError("Invalid request body")) }
      ValidateApi.validate(spark, tpe, sql, prepare = prepare) match {
        case Left(err) => respond(ex, 400, jsonError(err))
        case Right(r) =>
          val fields = Seq.newBuilder[String]
          fields += "\"valid\":" + r.valid
          fields += "\"duration\":" + r.durationMs
          r.error.foreach(e => fields += "\"error\":" + Model.jsonValue(e))
          respond(ex, 200, fields.result().mkString("{", ",", "}"))
      }
    }
  }

  /** POST /api/data/:table — object or array payload, synchronous
    * ingest, returns accepted ids (events.go:27-80; the reference goes
    * through NATS, this slice feeds the same batch pipeline directly). */
  private def handleData(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") return respond(ex, 405, jsonError("method not allowed"))
    if (requireApiKey(ex, Tokens.Permission.IngestData).isEmpty) return
    val table = ex.getRequestURI.getPath.stripPrefix("/api/data/")
    if (table.isEmpty || table.contains("/"))
      return respond(ex, 404, jsonError("table name required"))
    val raw = body(ex).trim
    def explicitId(o: SchemaInfer.JObject): Option[String] =
      o.map.get("_id").collect { case SchemaInfer.JString(s) if s.nonEmpty => s }
    try {
      val isArray = raw.startsWith("[")
      val objs: Seq[SchemaInfer.JObject] =
        if (isArray)
          SchemaInfer.parseOrdered(s"""{"a":$raw}""").fields.head._2 match {
            case SchemaInfer.JArray(items) => items.map {
              case o: SchemaInfer.JObject => o
              case _ => throw new IllegalArgumentException(
                "event array elements must be objects")
            }
            case _ => throw new IllegalArgumentException("invalid array payload")
          }
        else Seq(SchemaInfer.parseOrdered(raw))
      val resolved = objs.map { o =>
        val eid = explicitId(o)
        (o, eid.getOrElse(IngestPipeline.generateId()), eid.isDefined)
      }
      // cross-request idempotency: drop explicit ids republished inside
      // the duplicate window, exactly like the reference's JetStream
      // stream drops repeated Nats-Msg-Ids (events.go:47); the response
      // still reports the id as accepted — in the reference the publish
      // succeeds and the drop happens inside the stream. Ids are
      // recorded only AFTER the batch lands (a failed batch must stay
      // retryable); in-batch repeats of one id are collapsed first-wins
      // by processBatch itself.
      val explicitIds = resolved.collect { case (_, id, true) => id }
      val fresh = freshExplicitIds(table, explicitIds)
      val messages = resolved.collect {
        case (o, id, isExplicit) if !isExplicit || fresh(id) =>
          SchemaInfer.Message(table, SchemaInfer.toJsonString(o), headerId = Some(id))
      }
      if (messages.nonEmpty) IngestPipeline.processBatch(spark, messages)
      recordExplicitIds(table, fresh)
      val ids = resolved.map(_._2)
      val payload =
        if (isArray)
          "{\"status\":\"ok\",\"ids\":" + Model.jsonValue(ids) + "}"
        else
          "{\"status\":\"ok\",\"id\":" + Model.jsonValue(ids.head) + "}"
      respond(ex, 202, payload)
    } catch {
      case e: Exception =>
        respond(ex, 400,
          "{\"status\":\"error\",\"error\":" +
            Model.jsonValue(Option(e.getMessage).getOrElse("Invalid JSON payload")) + "}")
    }
  }

  /** Duplicate window for explicit `_id`s, the JetStream
    * duplicates-window analog (events.go:47, default 2 min): entries
    * expire after the window, insertion order doubles as age order, and
    * a hard cap bounds memory under id-spray. Scope boundary, same as
    * the reference's: JetStream's window is stream-global because every
    * node publishes into ONE stream; this window is per server
    * instance, so a multi-node deployment gets the global window by
    * fronting ingest with a shared queue (the Events/IngestStream
    * boundary this repo models) or pinning a table's writers. */
  private val DupWindowMillis = 2 * 60 * 1000L
  private val MaxTrackedIds = 1 << 20
  private val recentIds = new java.util.LinkedHashMap[String, java.lang.Long]()

  /** Read-only pass: the subset of `ids` not seen inside the window.
    * Recording is a separate step ([[recordExplicitIds]]) because the
    * reference registers a Nats-Msg-Id when the stream ACCEPTS the
    * publish — an id from a failed batch must stay retryable. */
  private def freshExplicitIds(table: String, ids: Seq[String],
      now: Long = System.currentTimeMillis()): Set[String] =
    recentIds.synchronized {
      val it = recentIds.entrySet().iterator()
      var scanning = true
      while (scanning && it.hasNext) {
        if (now - it.next().getValue > DupWindowMillis) it.remove()
        else scanning = false
      }
      ids.filter(id => !recentIds.containsKey(table + "\u0000" + id)).toSet
    }

  /** Record ids once their batch landed; the cap is enforced per insert
    * so the map never exceeds MaxTrackedIds. */
  private def recordExplicitIds(table: String, ids: Iterable[String],
      now: Long = System.currentTimeMillis()): Unit =
    recentIds.synchronized {
      ids.foreach { id =>
        if (recentIds.size >= MaxTrackedIds) {
          val eldest = recentIds.keySet().iterator()
          eldest.next(); eldest.remove()
        }
        recentIds.put(table + "\u0000" + id, now)
      }
    }

  /** JWT (non-dashboard-scoped) or API key with the given permission —
    * the reference's jwtOrAPIKeyMiddleware + RequirePermission combo. */
  private def requireJwtOrApiKey(ex: HttpExchange, permission: String): Boolean =
    bearer(ex) match {
      case Some(tok) if Tokens.isApiKeyToken(tok) =>
        if (store.tokens.validateApiKey(tok) &&
            store.tokens.hasPermission(
              Tokens.Actor(Tokens.ActorType.ApiKey, Tokens.apiKeyId(tok)), permission))
          true
        else { respond(ex, 401, jsonError("Unauthorized")); false }
      case Some(tok) => Auth.verify(tok, secret) match {
        case Right(claims) if claims.dashboardId.isEmpty => true
        case _ => respond(ex, 401, jsonError("Unauthorized")); false
      }
      case None => respond(ex, 401, jsonError("Unauthorized")); false
    }

  /** GET /api/schema — databases/tables/columns JSON
    * (handler/schema.go:13-33; dashboard-scoped JWTs rejected). */
  private def handleSchema(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "GET") return respond(ex, 405, jsonError("method not allowed"))
    if (!requireJwtOrApiKey(ex, Tokens.Permission.ReadSchema)) return
    val ss = graft.Sessions.request(spark)
    prepare(ss)
    respond(ex, 200, graft.catalog.Catalog.schemaJson(ss, config.schemaIgnore))
  }

  /** POST /api/download/:filename — {sql} ad-hoc download in the format
    * the filename extension names (handler routes the dashboard variant
    * through a render worker; the engine slice serves csv/json). */
  private def handleDownload(ex: HttpExchange): Unit = {
    // two routes share the prefix: POST /api/download/:filename (ad-hoc
    // SQL, routes.go:178) and GET /api/download/:key/:filename (intent
    // minted by the dashboard download route, routes.go:198 — public:
    // the unguessable key IS the credential)
    pathParts(ex, "/api/download/") match {
      case Array(key, filename) if ex.getRequestMethod == "GET" =>
        return handleDownloadByKey(ex, key, filename)
      case _ =>
    }
    if (ex.getRequestMethod != "POST") return respond(ex, 405, jsonError("method not allowed"))
    if (requireApiKey(ex, Tokens.Permission.QueryData).isEmpty) return
    val filename = ex.getRequestURI.getPath.stripPrefix("/api/download/")
    if (filename.isEmpty || filename.contains("/"))
      return respond(ex, 404, jsonError("filename required"))
    val sql = try {
      SchemaInfer.parseOrdered(body(ex)).map.get("sql") match {
        case Some(SchemaInfer.JString(s)) => s
        case _ => ""
      }
    } catch { case _: Exception => return respond(ex, 400, jsonError("Invalid request body")) }
    val out = new StringWriter
    graft.interp.DownloadApi.runAdhoc(spark, sql, filename, out, prepare = prepare) match {
      case Left(err) => respond(ex, 400, jsonError(err))
      case Right(()) =>
        val ct = if (filename.endsWith(".json")) "application/json" else "text/csv"
        ex.getResponseHeaders.set("Content-Disposition",
          s"""attachment; filename="${headerSafe(filename)}"""")
        respond(ex, 200, out.toString, contentType = ct)
    }
  }

  /** Shared auth/scoping/lookup/run for the dashboard routes: GET-only,
    * JWT-verified, dashboardId-claim scoped, then the interpreter run
    * with URL params + claim variables (dashboard.go:321-357). */
  private def withDashboardResult(ex: HttpExchange, prefix: String)(
      serve: Model.GetResult => Unit): Unit = {
    if (ex.getRequestMethod != "GET") return respond(ex, 405, jsonError("method not allowed"))
    requireJwt(ex).foreach { claims =>
      val id = ex.getRequestURI.getPath.stripPrefix(prefix)
      if (id.isEmpty || id.contains("/"))
        return respond(ex, 404, jsonError("dashboard id required"))
      if (claims.dashboardId.exists(_ != id))
        return respond(ex, 401, jsonError("Unauthorized"))
      // temporary (preview) dashboards render like journaled ones but
      // resolve from the TTL'd store, always private
      // (core/edit_dashboard.go:47-75 feeding get_dashboard.go:522)
      if (id.startsWith(HttpApi.TmpDashboardPrefix)) {
        tmpDashboard(id) match {
          case None => respond(ex, 404, jsonError("dashboard not found"))
          case Some(t) =>
            val result = Dashboard.run(spark, t.content, Dashboard.RunConfig(
              dashboardId = id,
              queryParams = queryParams(ex),
              variables = claims.variables,
              prepare = prepare))
            serve(result.copy(name = t.name, visibility = Some("private")))
        }
        return
      }
      store.dashboards.get(id) match {
        case None => respond(ex, 404, jsonError("dashboard not found"))
        case Some(meta) =>
          val result = Dashboard.run(spark, meta.content, Dashboard.RunConfig(
            dashboardId = id,
            queryParams = queryParams(ex),
            variables = claims.variables,
            prepare = prepare))
          serve(result.copy(name = meta.name, visibility = meta.visibility))
      }
    }
  }

  /** Deploy-permitted API key, or user-level auth — the gate shared by
    * /api/deploy, /api/apps, and /api/validate (the reference's
    * jwtOrAPIKeyMiddleware + RequirePermission(Deploy) combo,
    * routes.go:174-179). One definition: this policy drifted once when
    * hand-copied per route. */
  private def requireDeployKeyOrUser(ex: HttpExchange): Boolean =
    if (bearer(ex).exists(Tokens.isApiKeyToken))
      requireApiKey(ex, Tokens.Permission.Deploy).isDefined
    else requireUserAuth(ex)

  /** User-level auth for control-plane writes (the reference's
    * apiWithAuth group): a valid session token, or a JWT that is NOT
    * dashboard-scoped. */
  private def requireUserAuth(ex: HttpExchange): Boolean =
    bearer(ex) match {
      case Some(tok) if store.tokens.validateSessionToken(tok) => true
      case Some(tok) => Auth.verify(tok, secret) match {
        case Right(claims) if claims.dashboardId.isEmpty => true
        case _ => respond(ex, 401, jsonError("Unauthorized")); false
      }
      case None => respond(ex, 401, jsonError("Unauthorized")); false
    }

  /** Dispatcher for `/api/dashboards/:id[...]` — GET render JSON
    * (dashboard.go:321-357), DELETE, and the field-update posts
    * (routes.go:190-196), which submit the corresponding journal events
    * (edit_dashboard.go; password hashed server-side like
    * edit_dashboard.go:242-276). */
  private def handleDashboardPath(ex: HttpExchange): Unit = {
    val parts = ex.getRequestURI.getPath.stripPrefix("/api/dashboards/")
      .split("/").filter(_.nonEmpty)
    (ex.getRequestMethod, parts) match {
      case ("GET", Array(_)) =>
        withDashboardResult(ex, "/api/dashboards/") { result =>
          respond(ex, 200, Model.toJson(result))
        }
      case ("GET", Array(id, "info")) =>
        // ref: handler/dashboard.go:120-146 — dashboard-scoped JWTs
        // rejected, folder id resolved to a /path/
        if (requireUserAuth(ex)) {
          if (id.startsWith(HttpApi.TmpDashboardPrefix)) {
            // tmp info: path from the stored create payload, private,
            // created = updated = the entry's age (edit_dashboard.go:56-68)
            tmpDashboard(id) match {
              case None => respond(ex, 404, jsonError("dashboard not found"))
              case Some(t) => respond(ex, 200, appJson(
                id, t.path, None, t.name, Some(t.content),
                t.touchedAtMillis, t.touchedAtMillis, None,
                Some("private"), "dashboard"))
            }
          } else store.dashboards.get(id) match {
            case None => respond(ex, 404, jsonError("dashboard not found"))
            case Some(d) => respond(ex, 200, appJson(
              d.id, folderPath(d.folderId), d.folderId, d.name, Some(d.content),
              d.createdAtMillis, d.updatedAt, Some(d.createdBy).filter(_.nonEmpty),
              d.visibility, "dashboard"))
          }
        }
      case ("GET", Array(id, "download", filename)) =>
        handleRequestDashboardDownload(ex, id, filename)
      case ("DELETE", Array(id)) =>
        if (requireUserAuth(ex)) {
          if (!store.dashboards.contains(id))
            respond(ex, 404, jsonError("dashboard not found"))
          else if (submitFn("delete_dashboard", s"""{"id":${Model.jsonValue(id)}}"""))
            respond(ex, 200, "{\"status\":\"ok\"}")
          else respond(ex, 400, jsonError("delete rejected"))
        }
      case ("POST", Array(id, field @ ("query" | "name" | "visibility" | "password"))) =>
        if (requireUserAuth(ex)) {
          if (id.startsWith(HttpApi.TmpDashboardPrefix)) {
            // only the content edit resolves tmp ids (SaveDashboardQuery,
            // edit_dashboard.go:189-205 — the KV Put refreshes the TTL);
            // name/visibility/password query the apps table and 404
            if (field != "query")
              return respond(ex, 404, jsonError("dashboard not found"))
            val t = tmpDashboard(id).getOrElse(
              return respond(ex, 404, jsonError("dashboard not found")))
            val o = parsedBody(ex).getOrElse(
              return respond(ex, 400, jsonError("Invalid request body")))
            tmpDashboards.put(id, t.copy(content = jStr(o, "content"),
              touchedAtMillis = System.currentTimeMillis()))
            return respond(ex, 200, "{\"status\":\"ok\"}")
          }
          if (!store.dashboards.contains(id))
            return respond(ex, 404, jsonError("dashboard not found"))
          val o = parsedBody(ex).getOrElse(
            return respond(ex, 400, jsonError("Invalid request body")))
          // journaled edit time — feeds updatedAt in info/apps listings
          val ts = s""","timestamp":${System.currentTimeMillis()}"""
          val (event, payload) = field match {
            case "query" => ("update_dashboard_content",
              s"""{"id":${Model.jsonValue(id)},"content":${Model.jsonValue(jStr(o, "content"))}$ts}""")
            case "name" => ("update_dashboard_name",
              s"""{"id":${Model.jsonValue(id)},"name":${Model.jsonValue(jStr(o, "name"))}$ts}""")
            case "visibility" => ("update_dashboard_visibility",
              s"""{"id":${Model.jsonValue(id)},"visibility":${Model.jsonValue(jStr(o, "visibility"))}$ts}""")
            case "password" => ("update_dashboard_password",
              s"""{"id":${Model.jsonValue(id)},"passwordHash":${
                Model.jsonValue(graft.auth.Passwords.hash(jStr(o, "password")))}$ts}""")
          }
          if (submitFn(event, payload)) respond(ex, 200, "{\"status\":\"ok\"}")
          else respond(ex, 400, jsonError("update rejected"))
        }
      case _ => respond(ex, 405, jsonError("method not allowed"))
    }
  }

  // ---- temporary dashboards (core/create_dashboard.go:31-52, ----------
  // core/dashboard.go:12, core/edit_dashboard.go:47-75,189-205)

  /** The reference's TmpDashboardsKv NATS bucket: a TTL'd store for
    * dev previews and ad-hoc iterations that must never reach the
    * journal or the apps listing. Render, info, and content-edit
    * resolve these ids; name/visibility/password edits and DELETE see
    * them as not-found, exactly like the reference (those paths query
    * the apps table only). Same per-process divergence as the
    * downloads map above: behind a multi-node balancer, route preview
    * traffic with session affinity or swap this for a shared store. */
  private final case class TmpDashboard(name: String, path: String,
      content: String, touchedAtMillis: Long)
  private val tmpDashboards =
    new java.util.concurrent.ConcurrentHashMap[String, TmpDashboard]
  /** --tmp-dashboards-ttl (main.go:441), default 24 h; test-settable.
    * A content edit refreshes the TTL like a KV Put refreshes the
    * entry's age in the reference. */
  @volatile var tmpDashboardTtlMillis: Long = 24L * 60 * 60 * 1000

  private def tmpDashboard(id: String): Option[TmpDashboard] =
    Option(tmpDashboards.get(id)).filter { d =>
      val live = System.currentTimeMillis() - d.touchedAtMillis <= tmpDashboardTtlMillis
      if (!live) tmpDashboards.remove(id)
      live
    }

  /** POST /api/dashboards — create (routes.go:188, create_dashboard
    * event); returns the generated id. `temporary: true` routes to the
    * TTL'd tmp store instead of the journal; that is the ONLY create an
    * API key (query-data permission, routes.go:187) may perform, while
    * user-level auth may do both (handler/dashboard.go:69-82). */
  private def handleCreateDashboard(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") return respond(ex, 405, jsonError("method not allowed"))
    val isApiKey = bearer(ex).exists(Tokens.isApiKeyToken)
    if (isApiKey) { if (requireApiKey(ex, Tokens.Permission.QueryData).isEmpty) return }
    else if (!requireUserAuth(ex)) return
    val o = parsedBody(ex).getOrElse(
      return respond(ex, 400, jsonError("Invalid request body")))
    val temporary = o.map.get("temporary").contains(SchemaInfer.JBool(true))
    if (isApiKey && !temporary)
      return respond(ex, 401,
        jsonError("API keys are only allowed to create temporary dashboards"))
    if (temporary) {
      val now = System.currentTimeMillis()
      tmpDashboards.entrySet.removeIf(e =>
        now - e.getValue.touchedAtMillis > tmpDashboardTtlMillis)
      val id = HttpApi.TmpDashboardPrefix + store.tokens.newId()
      tmpDashboards.put(id,
        TmpDashboard(jStr(o, "name"), jStr(o, "path"), jStr(o, "content"), now))
      return respond(ex, 200, "{\"id\":" + Model.jsonValue(id) + "}")
    }
    val id = Some(jStr(o, "id")).filter(_.nonEmpty)
      .getOrElse(store.tokens.newId())
    val name = Some(jStr(o, "name")).filter(_.nonEmpty).getOrElse("New Dashboard")
    val folder = Some(jStr(o, "folderId")).filter(_.nonEmpty)
      .map(f => s""","folderId":${Model.jsonValue(f)}""").getOrElse("")
    val ok = submitFn("create_dashboard",
      s"""{"id":${Model.jsonValue(id)},"name":${Model.jsonValue(name)},""" +
        s""""content":${Model.jsonValue(jStr(o, "content"))}$folder,""" +
        s""""timestamp":${System.currentTimeMillis()}}""")
    if (ok) respond(ex, 200, "{\"id\":" + Model.jsonValue(id) + "}")
    else respond(ex, 400, jsonError("create rejected"))
  }

  // ---- remaining control plane (routes.go:183-217) --------------------
  // Every write is a journal event through submitFn; every handler is
  // user-auth gated except the public invite read/claim pair.

  private def ok(ex: HttpExchange): Unit = respond(ex, 200, "{\"status\":\"ok\"}")

  private def pathParts(ex: HttpExchange, prefix: String): Array[String] =
    ex.getRequestURI.getPath.stripPrefix(prefix).split("/").filter(_.nonEmpty)

  /** Folder names feed `/a/b/` path strings that clients (graft.Dev
    * pull) turn back into filesystem paths — '.', '..', or an embedded
    * separator would corrupt the path form or invite traversal, so
    * reject them at the write boundary. */
  private def validFolderName(name: String): Boolean =
    name.nonEmpty && name != "." && name != ".." &&
      !name.contains('/') && !name.contains('\\')

  /** POST /api/folders — create_folder with a generated id. */
  private def handleFolders(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") return respond(ex, 405, jsonError("method not allowed"))
    if (!requireUserAuth(ex)) return
    val o = parsedBody(ex).getOrElse(return respond(ex, 400, jsonError("Invalid request body")))
    if (!validFolderName(jStr(o, "name")))
      return respond(ex, 400, jsonError("invalid folder name"))
    val id = store.tokens.newId()
    val parent = Some(jStr(o, "parentId")).filter(_.nonEmpty)
      .map(p => s""","parentId":${Model.jsonValue(p)}""").getOrElse("")
    if (submitFn("create_folder",
        s"""{"id":${Model.jsonValue(id)},"name":${Model.jsonValue(jStr(o, "name"))}$parent}"""))
      respond(ex, 200, "{\"id\":" + Model.jsonValue(id) + "}")
    else respond(ex, 400, jsonError("create rejected"))
  }

  /** DELETE /api/folders/:id and POST /api/folders/:id/name. */
  private def handleFolderPath(ex: HttpExchange): Unit = {
    if (!requireUserAuth(ex)) return
    (ex.getRequestMethod, pathParts(ex, "/api/folders/")) match {
      case ("DELETE", Array(id)) =>
        if (submitFn("delete_folder", s"""{"id":${Model.jsonValue(id)}}""")) ok(ex)
        else respond(ex, 400, jsonError("delete rejected"))
      case ("POST", Array(id, "name")) =>
        val o = parsedBody(ex).getOrElse(return respond(ex, 400, jsonError("Invalid request body")))
        if (!validFolderName(jStr(o, "name")))
          return respond(ex, 400, jsonError("invalid folder name"))
        if (submitFn("rename_folder",
            s"""{"id":${Model.jsonValue(id)},"name":${Model.jsonValue(jStr(o, "name"))}}"""))
          ok(ex)
        else respond(ex, 404, jsonError("folder not found"))
      case _ => respond(ex, 405, jsonError("method not allowed"))
    }
  }

  /** POST /api/move — {apps, folders, folderId} → move_items. */
  private def handleMove(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") return respond(ex, 405, jsonError("method not allowed"))
    if (!requireUserAuth(ex)) return
    parsedBody(ex) match {
      case None => respond(ex, 400, jsonError("Invalid request body"))
      case Some(o) =>
        // re-serialize with the journaled edit time appended
        val base = SchemaInfer.toJsonString(o).trim.stripSuffix("}")
        val sep = if (base == "{") "" else ","
        if (submitFn("move_items",
            base + sep + s""""timestamp":${System.currentTimeMillis()}}""")) ok(ex)
        else respond(ex, 400, jsonError("move rejected"))
    }
  }

  /** POST /api/tasks — create_task with a generated id. */
  private def handleTasks(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") return respond(ex, 405, jsonError("method not allowed"))
    if (!requireUserAuth(ex)) return
    val o = parsedBody(ex).getOrElse(return respond(ex, 400, jsonError("Invalid request body")))
    val id = store.tokens.newId()
    if (submitFn("create_task",
        s"""{"id":${Model.jsonValue(id)},"name":${Model.jsonValue(jStr(o, "name"))},""" +
          s""""content":${Model.jsonValue(jStr(o, "content"))},""" +
          s""""timestamp":${System.currentTimeMillis()}}""")) {
      Option(scheduler).foreach(_.schedule(id, jStr(o, "content")))
      respond(ex, 200, "{\"id\":" + Model.jsonValue(id) + "}")
    } else respond(ex, 400, jsonError("create rejected"))
  }

  /** GET/DELETE /api/tasks/:id, POST /api/tasks/:id/content|name. */
  private def handleTaskPath(ex: HttpExchange): Unit = {
    if (!requireUserAuth(ex)) return
    (ex.getRequestMethod, pathParts(ex, "/api/tasks/")) match {
      case ("GET", Array(id)) =>
        store.getTask(id) match {
          case None => respond(ex, 404, jsonError("task not found"))
          case Some(t) =>
            // full reference Task shape (core/task.go:16-31): path +
            // timestamps + last/next run info when a TaskRunLog is wired
            val sb = new StringBuilder("{")
            sb ++= "\"id\":" + Model.jsonValue(t.id)
            t.folderId.foreach(f => sb ++= ",\"folderId\":" + Model.jsonValue(f))
            sb ++= ",\"path\":" + Model.jsonValue(folderPath(t.folderId))
            sb ++= ",\"name\":" + Model.jsonValue(t.name)
            sb ++= ",\"content\":" + Model.jsonValue(t.content)
            sb ++= ",\"createdAt\":" + Model.jsonValue(isoTime(t.createdAtMillis))
            sb ++= ",\"updatedAt\":" + Model.jsonValue(isoTime(t.updatedAt))
            if (t.createdBy.nonEmpty)
              sb ++= ",\"createdBy\":" + Model.jsonValue(t.createdBy)
            lastTaskRun(t.id).foreach(r =>
              taskRunFields(r).foreach(f => sb ++= "," + f))
            respond(ex, 200, sb.append("}").result())
        }
      case ("DELETE", Array(id)) =>
        // journal-first like the update path: a rejected delete must not
        // cancel the live schedule the journal still records (the task
        // would resurrect on replay while the client was told "deleted")
        if (submitFn("delete_task", s"""{"id":${Model.jsonValue(id)}}""")) {
          Option(scheduler).foreach(_.cancel(id))
          ok(ex)
        } else respond(ex, 400, jsonError("delete rejected"))
      case ("POST", Array(id, field @ ("content" | "name"))) =>
        if (!store.tasks.contains(id)) return respond(ex, 404, jsonError("task not found"))
        val o = parsedBody(ex).getOrElse(return respond(ex, 400, jsonError("Invalid request body")))
        // journal-first like deployOne: a rejected write must not leave
        // the live scheduler running content the journal never recorded
        if (submitFn(s"update_task_$field",
            s"""{"id":${Model.jsonValue(id)},"$field":${Model.jsonValue(jStr(o, field))},""" +
              s""""timestamp":${System.currentTimeMillis()}}""")) {
          if (field == "content")
            Option(scheduler).foreach(_.schedule(id, jStr(o, field)))
          ok(ex)
        } else respond(ex, 400, jsonError("update rejected"))
      case _ => respond(ex, 405, jsonError("method not allowed"))
    }
  }

  /** POST /api/run/task — {content} → ad-hoc task execution
    * (handler RunTask → run_task.go:67-258); returns per-statement
    * results. */
  private def handleRunTask(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") return respond(ex, 405, jsonError("method not allowed"))
    if (!requireUserAuth(ex)) return
    val o = parsedBody(ex).getOrElse(return respond(ex, 400, jsonError("Invalid request body")))
    val r = graft.tasks.Tasks.executeTask(spark, jStr(o, "content"), prepare = prepare)
    val queries = r.queries.map { q =>
      s"""{"sql":${Model.jsonValue(q.sql)},"durationMs":${q.durationMs},""" +
        s""""rows":${q.resultRows.length},"error":${Model.jsonValue(q.error.orNull)}}"""
    }.mkString("[", ",", "]")
    respond(ex, 200, s"""{"success":${r.success},"queries":$queries}""")
  }

  /** GET /api/users — active users. */
  private def handleUsers(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "GET") return respond(ex, 405, jsonError("method not allowed"))
    if (!requireUserAuth(ex)) return
    val users = store.tokens.listUsers.map { u =>
      s"""{"id":${Model.jsonValue(u.id)},"email":${Model.jsonValue(u.email)},""" +
        s""""name":${Model.jsonValue(u.name)}}"""
    }.mkString("[", ",", "]")
    respond(ex, 200, s"""{"users":$users}""")
  }

  /** POST /api/users/:id/password|name, DELETE /api/users/:id. */
  private def handleUserPath(ex: HttpExchange): Unit = {
    if (!requireUserAuth(ex)) return
    (ex.getRequestMethod, pathParts(ex, "/api/users/")) match {
      case ("DELETE", Array(id)) =>
        submitFn("delete_user", s"""{"id":${Model.jsonValue(id)}}"""); ok(ex)
      case ("POST", Array(id, "name")) =>
        val o = parsedBody(ex).getOrElse(return respond(ex, 400, jsonError("Invalid request body")))
        submitFn("update_user_name",
          s"""{"id":${Model.jsonValue(id)},"name":${Model.jsonValue(jStr(o, "name"))}}""")
        ok(ex)
      case ("POST", Array(id, "password")) =>
        // current-password verify + other-session invalidation
        // (users.go:186-218); the presented session survives
        val o = parsedBody(ex).getOrElse(return respond(ex, 400, jsonError("Invalid request body")))
        val sessionId = bearer(ex).filter(store.tokens.validateSessionToken)
          .map(_.stripPrefix(Tokens.SessionTokenPrefix).split("\\.")(0)).getOrElse("")
        graft.auth.Passwords.updateUserPassword(store.tokens, submitFn, id,
            jStr(o, "currentPassword"), jStr(o, "newPassword"), sessionId) match {
          case Right(()) => ok(ex)
          case Left(err) => respond(ex, 400, jsonError(err))
        }
      case _ => respond(ex, 405, jsonError("method not allowed"))
    }
  }

  /** POST /api/invites — create_invite with a generated code. */
  private def handleInvites(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") return respond(ex, 405, jsonError("method not allowed"))
    if (!requireUserAuth(ex)) return
    val o = parsedBody(ex).getOrElse(return respond(ex, 400, jsonError("Invalid request body")))
    val code = store.tokens.generateRandomString(16)
    if (submitFn("create_invite",
        s"""{"code":${Model.jsonValue(code)},"email":${Model.jsonValue(jStr(o, "email"))},""" +
          s""""timestamp":${System.currentTimeMillis()}}"""))
      respond(ex, 200, "{\"code\":" + Model.jsonValue(code) + "}")
    else respond(ex, 400, jsonError("create rejected"))
  }

  /** GET /api/invites/:code (public), POST /api/invites/:code/claim
    * (public — mints the user), DELETE /api/invites/:code (authed). */
  private def handleInvitePath(ex: HttpExchange): Unit =
    (ex.getRequestMethod, pathParts(ex, "/api/invites/")) match {
      case ("GET", Array(code)) =>
        store.invites.get(code) match {
          case None => respond(ex, 404, jsonError("invalid invite code"))
          case Some(i) => respond(ex, 200,
            s"""{"code":${Model.jsonValue(i.code)},"email":${Model.jsonValue(i.email)}}""")
        }
      case ("POST", Array(code, "claim")) =>
        val o = parsedBody(ex).getOrElse(return respond(ex, 400, jsonError("Invalid request body")))
        StateJournal.claimInvite(store, submitFn, code,
            jStr(o, "name"), jStr(o, "password")) match {
          case Right(userId) =>
            respond(ex, 200, "{\"userId\":" + Model.jsonValue(userId) + "}")
          case Left(err) => respond(ex, 400, jsonError(err))
        }
      case ("DELETE", Array(code)) =>
        if (!requireUserAuth(ex)) return
        submitFn("delete_invite", s"""{"code":${Model.jsonValue(code)}}"""); ok(ex)
      case _ => respond(ex, 405, jsonError("method not allowed"))
    }

  /** GET/POST /api/keys — list / create_api_key (the secret is shown
    * once, like the reference). */
  private def handleKeys(ex: HttpExchange): Unit = {
    if (!requireUserAuth(ex)) return
    ex.getRequestMethod match {
      case "GET" =>
        val keys = store.tokens.listApiKeys.map { case (id, name, perms) =>
          s"""{"id":${Model.jsonValue(id)},"name":${Model.jsonValue(name)},""" +
            s""""permissions":${Model.jsonValue(perms)}}"""
        }.mkString("[", ",", "]")
        respond(ex, 200, s"""{"keys":$keys}""")
      case "POST" =>
        val o = parsedBody(ex).getOrElse(return respond(ex, 400, jsonError("Invalid request body")))
        val perms = o.map.get("permissions") match {
          case Some(SchemaInfer.JArray(items)) =>
            items.collect { case SchemaInfer.JString(s) => s }
          case _ => Nil
        }
        val (_, token) = store.tokens.createApiKey(jStr(o, "name"), perms,
          Tokens.Actor(Tokens.ActorType.User, ""))
        respond(ex, 200, "{\"key\":" + Model.jsonValue(token) + "}")
      case _ => respond(ex, 405, jsonError("method not allowed"))
    }
  }

  /** POST /api/keys/:id/permissions, DELETE /api/keys/:id. */
  private def handleKeyPath(ex: HttpExchange): Unit = {
    if (!requireUserAuth(ex)) return
    (ex.getRequestMethod, pathParts(ex, "/api/keys/")) match {
      case ("DELETE", Array(id)) =>
        submitFn("delete_api_key", s"""{"id":${Model.jsonValue(id)}}"""); ok(ex)
      case ("POST", Array(id, "permissions")) =>
        val o = parsedBody(ex).getOrElse(return respond(ex, 400, jsonError("Invalid request body")))
        val perms = o.map.get("permissions") match {
          case Some(SchemaInfer.JArray(items)) =>
            items.collect { case SchemaInfer.JString(s) => s }
          case _ => Nil
        }
        submitFn("update_api_key_permissions",
          s"""{"id":${Model.jsonValue(id)},"permissions":${Model.jsonValue(perms)}}""")
        ok(ex)
      case _ => respond(ex, 405, jsonError("method not allowed"))
    }
  }

  /** POST /api/logout — invalidate the presented session
    * (routes.go:183). */
  private def handleLogout(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") return respond(ex, 405, jsonError("method not allowed"))
    bearer(ex).filter(store.tokens.validateSessionToken) match {
      case None => respond(ex, 401, jsonError("Unauthorized"))
      case Some(tok) =>
        val sessionId = tok.stripPrefix(Tokens.SessionTokenPrefix).split("\\.")(0)
        store.tokens.logout(sessionId) match {
          case Right(()) => respond(ex, 200, "{\"status\":\"ok\"}")
          case Left(err) => respond(ex, 400, jsonError(err))
        }
    }
  }

  /** `GET /api/render/:id[?format=pdf]` — the reference's
    * rendered-download route (pdf.go:33-342 screenshots the page via a
    * browser; here the same GetResult is painted headless by
    * [[graft.render.Png]] / wrapped by [[graft.render.Pdf]]). Same auth
    * and scoping as the JSON dashboard route. */
  private def handleRender(ex: HttpExchange): Unit =
    withDashboardResult(ex, "/api/render/") { result =>
      val pdf = queryParams(ex).get("format").exists(_.contains("pdf"))
      val bytes =
        if (pdf) graft.render.Pdf.render(result)
        else graft.render.Png.render(result)
      val (ctype, ext) = if (pdf) ("application/pdf", "pdf") else ("image/png", "png")
      countRequest(ex, 200) // direct write path bypasses respond()
      ex.getResponseHeaders.set("Content-Type", ctype)
      ex.getResponseHeaders.set("Content-Disposition",
        "attachment; filename=\"" + headerSafe(result.name) + "." + ext + "\"")
      ex.sendResponseHeaders(200, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
    }

  // ---- auth routes (handler/auth.go:42-300) ---------------------------

  private def parsedBody(ex: HttpExchange): Option[SchemaInfer.JObject] =
    try Some(SchemaInfer.parseOrdered(body(ex)))
    catch { case e: HttpError => throw e
            case _: Exception => None }

  private def jStr(o: SchemaInfer.JObject, k: String): String =
    o.map.get(k).collect { case SchemaInfer.JString(s) => s }.getOrElse("")

  /** POST /api/auth/login — {email, password} → {token: session}
    * (handler/auth.go:42-63 over core.Login; one 401 for both unknown
    * email and bad password — no account enumeration). */
  private def handleLogin(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") return respond(ex, 405, jsonError("method not allowed"))
    val o = parsedBody(ex).getOrElse(
      return respond(ex, 400, jsonError("Invalid request body")))
    graft.auth.Passwords.login(store.tokens,
      id => store.tokens.getUser(id).flatMap(_.passwordHash),
      email => store.tokens.userByEmail(email).map(_.id),
      jStr(o, "email"), jStr(o, "password")) match {
      case Right(tok) => respond(ex, 200, "{\"token\":" + Model.jsonValue(tok) + "}")
      case Left(_) => respond(ex, 401, jsonError("Invalid email or password"))
    }
  }

  private def jsonToVariables(o: SchemaInfer.JObject): Map[String, Any] =
    o.map.get("variables") match {
      case Some(vs: SchemaInfer.JObject) =>
        vs.fields.map { case (k, v) =>
          k -> (v match {
            case SchemaInfer.JString(s) => s: Any
            case SchemaInfer.JArray(items) => items.map {
              case SchemaInfer.JString(s) => s: Any
              case SchemaInfer.JNumber(n) => n: Any
              case SchemaInfer.JBool(b) => b: Any
              case other => other: Any
            }
            // non-string scalars pass through so issueJwt rejects them
            // with the reference's "Invalid variables format" error
            case SchemaInfer.JNumber(n) => n: Any
            case SchemaInfer.JBool(b) => b: Any
            case other => other: Any
          })
        }.toMap
      case _ => Map.empty
    }

  /** POST /api/auth/token — mint a dashboard JWT (handler/auth.go:83-231).
    * A verifying JWT (header, or an `ey…` body token from old CLI
    * clients) takes the refresh path under [[Tokens.canMintFrom]]'s
    * rules: dashboard-scoped tokens never mint, long-lived never mints
    * long-lived. Otherwise the body token (session or API key) goes
    * through [[Tokens.issueJwt]]: `jwt` permission required, API keys
    * must scope to a dashboard, variables must be strings or string
    * arrays. */
  private def handleToken(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") return respond(ex, 405, jsonError("method not allowed"))
    val o = parsedBody(ex).getOrElse(
      return respond(ex, 400, jsonError("Invalid request body")))
    val bodyToken = jStr(o, "token")
    val dashboardId = Some(jStr(o, "dashboardId")).filter(_.nonEmpty)
    val longLived = o.map.get("longLived")
      .collect { case SchemaInfer.JBool(b) => b }.getOrElse(false)
    val variables = jsonToVariables(o)
    val jwtCandidate = bearer(ex).orElse(
      Some(bodyToken).filter(t => t.startsWith("ey") && t.split("\\.").length == 3))
    jwtCandidate.map(Auth.verify(_, secret)) match {
      case Some(Right(claims)) =>
        Tokens.canMintFrom(claims, longLived) match {
          case Left(err) => respond(ex, 401, jsonError(err))
          case Right(()) =>
            val now = System.currentTimeMillis() / 1000
            val minted = claims.copy(
              dashboardId = dashboardId.orElse(claims.dashboardId),
              variables = if (variables.nonEmpty) variables else claims.variables,
              longLived = claims.longLived || longLived,
              exp = if (longLived) now + Auth.LongLivedExpirySeconds else claims.exp)
            respond(ex, 200,
              "{\"jwt\":" + Model.jsonValue(Auth.sign(minted, secret)) + "}")
        }
      case _ =>
        Tokens.issueJwt(store.tokens, bodyToken, dashboardId, variables,
            longLived, secret) match {
          case Right(t) => respond(ex, 200, "{\"jwt\":" + Model.jsonValue(t) + "}")
          case Left(err) if err == "Invalid token" => respond(ex, 401, jsonError(err))
          case Left(err) if err.startsWith("Missing required permission") =>
            respond(ex, 403, jsonError(err))
          case Left(err) => respond(ex, 400, jsonError(err))
        }
    }
  }

  /** POST /api/auth/public — {dashboardId, password?} → public-view JWT
    * for public / password-protected dashboards
    * (handler/auth.go:237-300 over the MetaStore's publicAuth). */
  private def handlePublicAuth(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") return respond(ex, 405, jsonError("method not allowed"))
    val o = parsedBody(ex).getOrElse(
      return respond(ex, 400, jsonError("Invalid request body")))
    store.publicAuth(jStr(o, "dashboardId"),
        Some(jStr(o, "password")).filter(_.nonEmpty), secret) match {
      case Right(jwt) => respond(ex, 200, "{\"jwt\":" + Model.jsonValue(jwt) + "}")
      case Left("not found") => respond(ex, 404, jsonError("not found"))
      case Left(err @ ("Password required" | "Invalid password")) =>
        respond(ex, 401, jsonError(err))
      case Left(err) => respond(ex, 400, jsonError(err))
    }
  }

  // ---- system / listing / deploy plane --------------------------------

  private def isoTime(millis: Long): String =
    java.time.Instant.ofEpochMilli(millis).toString

  /** Resolve a folder id to the reference's `/name1/name2/` path form
    * (list_apps.go:104-121 recursive CTE; root = "/"). */
  private def folderPath(folderId: Option[String]): String =
    store.folderSegments(folderId) match {
      case Nil => "/"
      case segs => segs.mkString("/", "/", "/")
    }

  /** The five task-run fields shared by the apps listing's `taskInfo`
    * and the task GET (api/types.go:28-34 / core/task.go:26-30) —
    * one serializer so a new field can't drift between the two. */
  private def taskRunFields(r: StateJournal.TaskRunMeta): Seq[String] = {
    val fields = Seq.newBuilder[String]
    fields += "\"lastRunAt\":" + Model.jsonValue(isoTime(r.startedAtMillis))
    fields += "\"lastRunSuccess\":" + r.success
    fields += "\"lastRunDuration\":" + r.totalDurationMs
    r.nextRunAtMillis.foreach(n => fields += "\"nextRunAt\":" + Model.jsonValue(isoTime(n)))
    if (r.nextRunType.nonEmpty)
      fields += "\"nextRunType\":" + Model.jsonValue(r.nextRunType)
    fields.result()
  }

  private def lastTaskRun(taskId: String): Option[StateJournal.TaskRunMeta] =
    Option(taskRuns).flatMap(_.lastRun(taskId))

  /** One `api.App` JSON object (reference shape: api/types.go:37-50).
    * `updatedAt` is the journaled edit time (creation time until the
    * first edit); `taskInfo` carries the task-runs row when a
    * [[StateJournal.TaskRunLog]] is wired (api/types.go:28-34). */
  private def appJson(id: String, path: String, folderId: Option[String],
      name: String, content: Option[String], createdMillis: Long,
      updatedMillis: Long, createdBy: Option[String],
      visibility: Option[String], tpe: String,
      taskInfo: Option[StateJournal.TaskRunMeta] = None): String = {
    val sb = new StringBuilder("{")
    sb ++= "\"id\":" + Model.jsonValue(id)
    sb ++= ",\"path\":" + Model.jsonValue(path)
    folderId.foreach(f => sb ++= ",\"folderId\":" + Model.jsonValue(f))
    sb ++= ",\"name\":" + Model.jsonValue(name)
    content.foreach(c => sb ++= ",\"content\":" + Model.jsonValue(c))
    sb ++= ",\"createdAt\":" + Model.jsonValue(isoTime(createdMillis))
    sb ++= ",\"updatedAt\":" + Model.jsonValue(isoTime(updatedMillis))
    createdBy.foreach(c => sb ++= ",\"createdBy\":" + Model.jsonValue(c))
    visibility.foreach(v => sb ++= ",\"visibility\":" + Model.jsonValue(v))
    taskInfo.foreach(r =>
      sb ++= ",\"taskInfo\":" + taskRunFields(r).mkString("{", ",", "}"))
    sb ++= ",\"type\":" + Model.jsonValue(tpe)
    sb.append("}").result()
  }

  /** GET /api/system/config — deployment switches, public
    * (handler/system.go:12-24). */
  private def handleSystemConfig(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "GET") return respond(ex, 405, jsonError("method not allowed"))
    respond(ex, 200,
      s"""{"loginRequired":${config.loginRequired},""" +
        s""""tasksEnabled":${config.tasksEnabled},""" +
        s""""editEnabled":${config.editEnabled},""" +
        s""""publicSharingEnabled":${config.publicSharingEnabled},""" +
        s""""passwordProtectedSharingEnabled":${config.passwordProtectedSharingEnabled},""" +
        s""""ssoLoginUrl":${Model.jsonValue(config.ssoLoginUrl)},""" +
        s""""jwtSecretStatic":${config.jwtSecretStatic}}""")
  }

  /** GET /api/version — authed (routes.go:181). */
  private def handleVersion(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "GET") return respond(ex, 405, jsonError("method not allowed"))
    if (!requireUserAuth(ex)) return
    respond(ex, 200, "{\"version\":" + Model.jsonValue(config.version) + "}")
  }

  /** POST /api/auth/setup — first-user bootstrap (handler/auth.go:302-339):
    * open only while no user exists, then 409 forever. Mints a session
    * so the UI can proceed without a second login round-trip. */
  private def handleSetup(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") return respond(ex, 405, jsonError("method not allowed"))
    val o = parsedBody(ex).getOrElse(
      return respond(ex, 400, jsonError("Invalid request body")))
    val (email, name, password) = (jStr(o, "email"), jStr(o, "name"), jStr(o, "password"))
    if (email.isEmpty) return respond(ex, 400, jsonError("Email is required"))
    if (password.isEmpty) return respond(ex, 400, jsonError("Password is required"))
    // hash outside the lock (bcrypt is deliberately slow); the
    // no-user-exists check and the create must be one atomic step or two
    // racing setup calls both pass the gate on this security boundary
    val hash = graft.auth.Passwords.hash(password)
    val id = store.tokens.newId()
    val ok = store.synchronized {
      if (store.tokens.listUsers.nonEmpty) None
      else Some(submitFn("create_user",
        s"""{"id":${Model.jsonValue(id)},"email":${Model.jsonValue(email)},""" +
          s""""name":${Model.jsonValue(name)},""" +
          s""""passwordHash":${Model.jsonValue(hash)}}"""))
    }
    ok match {
      case None => respond(ex, 409, jsonError("User setup already completed"))
      case Some(false) => respond(ex, 500, jsonError("Failed to create user"))
      case Some(true) =>
        val token = store.tokens.createSessionForUser(id)
        respond(ex, 200,
          "{\"id\":" + Model.jsonValue(id) + ",\"token\":" + Model.jsonValue(token) + "}")
    }
  }

  /** GET /api/apps — the dashboard/task listing (handler/apps.go:15-100
    * over core.ListApps): sort/order/path/query/recursive/limit/offset/
    * include_content. The listing walks the in-memory MetaStore — the
    * same data the reference pulls from its apps table. */
  private def handleApps(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "GET") return respond(ex, 405, jsonError("method not allowed"))
    if (!requireDeployKeyOrUser(ex)) return
    val q = queryParams(ex)
    def p(k: String): String = q.get(k).flatMap(_.headOption).getOrElse("")
    def boolParam(k: String): Either[String, Boolean] = p(k) match {
      case "" => Right(false)
      case "true" | "1" => Right(true)
      case "false" | "0" => Right(false)
      case _ => Left(s"invalid $k value")
    }
    def intParam(k: String): Either[String, Int] = p(k) match {
      case "" => Right(0)
      case s => s.toIntOption.filter(_ >= 0).toRight(s"invalid $k value")
    }
    val (recursive, includeContent, limit, offset) = (for {
      r <- boolParam("recursive")
      c <- boolParam("include_content")
      l <- intParam("limit")
      o <- intParam("offset")
    } yield (r, c, l, o)) match {
      case Right(t) => t
      case Left(err) => return respond(ex, 400, jsonError(err))
    }
    // normalize to the canonical '/a/b/' form folderPath emits: '/f1'
    // must mean the same folder as '/f1/', and a recursive prefix match
    // on '/f1' must not swallow '/f10/'
    val path = p("path") match {
      case "" | "/" => "/"
      case s =>
        val lead = if (s.startsWith("/")) s else "/" + s
        if (lead.endsWith("/")) lead else lead + "/"
    }
    val query = p("query").toLowerCase
    // json is a thunk: only the paged window is serialized (content can
    // be the full dashboard SQL — building it for every filtered-out
    // item would be pure waste)
    final case class Item(name: String, createdMillis: Long,
        updatedMillis: Long, json: () => String)
    def keep(itemPath: String, name: String): Boolean = {
      val pathOk =
        if (recursive) path == "/" || itemPath.startsWith(path)
        else itemPath == path
      pathOk && (query.isEmpty || name.toLowerCase.contains(query))
    }
    // snapshot under the store monitor: deploy/delete on other pool
    // threads mutate these maps mid-iteration otherwise
    val all = store.synchronized {
      val dashboards = store.dashboards.values.flatMap { d =>
        val ip = folderPath(d.folderId)
        if (keep(ip, d.name)) Some(Item(d.name, d.createdAtMillis, d.updatedAt, () =>
          appJson(d.id, ip, d.folderId, d.name,
            Some(d.content).filter(_ => includeContent), d.createdAtMillis,
            d.updatedAt, Some(d.createdBy).filter(_.nonEmpty), d.visibility,
            "dashboard")))
        else None
      }
      val tasks =
        if (!config.tasksEnabled) Nil
        else store.tasks.values.flatMap { t =>
          val ip = folderPath(t.folderId)
          // run-info lookup lives in the thunk: filtered-out and
          // unpaged items must not pay the TaskRunLog monitor
          if (keep(ip, t.name)) Some(Item(t.name, t.createdAtMillis, t.updatedAt, () =>
            appJson(t.id, ip, t.folderId, t.name,
              Some(t.content).filter(_ => includeContent), t.createdAtMillis,
              t.updatedAt, Some(t.createdBy).filter(_.nonEmpty), None, "task",
              taskInfo = lastTaskRun(t.id))))
          else None
        }
      (dashboards ++ tasks).toVector
    }
    val sorted = (p("sort") match {
      case "name" => all.sortBy(_.name)
      case "created" => all.sortBy(_.createdMillis)
      case _ => all.sortBy(_.updatedMillis) // the reference's default
    }) match {
      case s if p("order") == "asc" => s
      case s => s.reverse // desc is the reference default
    }
    val windowed = sorted.drop(offset)
      .take(if (limit > 0) limit else Int.MaxValue)
    val page = if (limit > 0) offset / limit + 1 else 1
    val pageSize = if (limit > 0) limit else windowed.size
    respond(ex, 200, windowed.map(_.json())
      .mkString("{\"apps\":[", ",", s"],\"page\":$page,\"pageSize\":$pageSize}"))
  }

  /** GET /api/public/:id/status — publicly probeable visibility
    * (handler/dashboard.go:857-881): private or disabled sharing modes
    * answer 404, indistinguishable from absent. */
  private def handlePublicStatus(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "GET") return respond(ex, 405, jsonError("method not allowed"))
    pathParts(ex, "/api/public/") match {
      case Array(id, "status") =>
        store.dashboards.get(id).flatMap(_.visibility) match {
          case Some(v @ "public") if config.publicSharingEnabled =>
            respond(ex, 200, "{\"visibility\":" + Model.jsonValue(v) + "}")
          case Some(v @ "password-protected") if config.passwordProtectedSharingEnabled =>
            respond(ex, 200, "{\"visibility\":" + Model.jsonValue(v) + "}")
          case _ => respond(ex, 404, jsonError("Dashboard Not Found"))
        }
      case _ => respond(ex, 404, jsonError("not found"))
    }
  }

  /** POST /api/admin/reset-jwt-secret — rotate the signing secret;
    * every outstanding JWT dies, sessions survive
    * (handler/auth.go:341-358). */
  private def handleResetJwtSecret(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") return respond(ex, 405, jsonError("method not allowed"))
    if (!requireUserAuth(ex)) return
    val fresh = store.tokens.generateRandomString(64)
    if (submitFn("reset_jwt_secret", s"""{"secret":${Model.jsonValue(fresh)}}"""))
      respond(ex, 200, "{\"ok\":true}")
    else respond(ex, 500, jsonError("Failed to reset JWT secret"))
  }

  /** GET /metrics — Prometheus text format behind an API key with the
    * metrics permission (routes.go:163). */
  private def handleMetrics(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "GET") return respond(ex, 405, jsonError("method not allowed"))
    if (requireApiKey(ex, Tokens.Permission.ReadMetrics).isEmpty) return
    val sb = new StringBuilder
    sb ++= "# HELP graft_http_requests_total HTTP requests served, by route/method/status.\n"
    sb ++= "# TYPE graft_http_requests_total counter\n"
    import scala.jdk.CollectionConverters._
    requestCounts.asScala.toSeq.sortBy(_._1.toString).foreach {
      case ((route, method, status), count) =>
        sb ++= s"""graft_http_requests_total{route="$route",method="$method",status="$status"} ${count.sum}""" + "\n"
    }
    // JVM-wide Janino compilations: steady-state requests reuse generated
    // code (graft.Sessions), so a rising count under repeated traffic
    // means per-request recompilation is back
    sb ++= "# HELP graft_codegen_compiles_total Generated-code classes compiled by this JVM.\n"
    sb ++= "# TYPE graft_codegen_compiles_total counter\n"
    sb ++= s"graft_codegen_compiles_total ${graft.Sessions.codegenCompiles}\n"
    // a render, task, download or /api/sql request answered wholly from
    // the result cache's text never builds its session's state
    sb ++= "# HELP graft_request_session_states_total Sessions of renders, downloads, tasks and /api/sql requests whose session state was built.\n"
    sb ++= "# TYPE graft_request_session_states_total counter\n"
    sb ++= s"graft_request_session_states_total ${graft.Sessions.requestStatesBuilt}\n"
    // statement texts whose dialect passes ran (sqlfront.Dialect's
    // template memo misses): flat under repeated renders of the same
    // dashboards
    sb ++= "# HELP graft_dialect_rewrites_total Statement texts whose dialect rewrite passes ran.\n"
    sb ++= "# TYPE graft_dialect_rewrites_total counter\n"
    sb ++= s"graft_dialect_rewrites_total ${graft.sqlfront.Dialect.templates.rewrites.get}\n"
    // statement results reused by renders and download replays while
    // their plan and input files are unchanged (interp.ResultCache)
    val cache = graft.interp.ResultCache.shared
    sb ++= "# HELP graft_result_cache_hits_total Dashboard statements answered from the result cache.\n"
    sb ++= "# TYPE graft_result_cache_hits_total counter\n"
    sb ++= s"graft_result_cache_hits_total ${cache.hits.get}\n"
    sb ++= "# HELP graft_result_cache_text_hits_total Of the hits, statements answered from their text before Spark parsed them.\n"
    sb ++= "# TYPE graft_result_cache_text_hits_total counter\n"
    sb ++= s"graft_result_cache_text_hits_total ${cache.textHits.get}\n"
    sb ++= "# HELP graft_result_cache_misses_total Cacheable dashboard statements run because no result matched.\n"
    sb ++= "# TYPE graft_result_cache_misses_total counter\n"
    sb ++= s"graft_result_cache_misses_total ${cache.misses.get}\n"
    sb ++= "# HELP graft_result_cache_incremental_total Dashboard statements answered from a cached aggregate state plus the table's new files.\n"
    sb ++= "# TYPE graft_result_cache_incremental_total counter\n"
    sb ++= s"graft_result_cache_incremental_total ${cache.incremental.get}\n"
    sb ++= "# HELP graft_result_cache_entries Statements with a result in the result cache.\n"
    sb ++= "# TYPE graft_result_cache_entries gauge\n"
    sb ++= s"graft_result_cache_entries ${cache.size}\n"
    sb ++= "# HELP graft_result_cache_bytes Estimated bytes held by the result cache.\n"
    sb ++= "# TYPE graft_result_cache_bytes gauge\n"
    sb ++= s"graft_result_cache_bytes ${cache.bytes}\n"
    respond(ex, 200, sb.result(), contentType = "text/plain; version=0.0.4; charset=utf-8")
  }

  // ---- deploy (handler/deploy.go:26-220) ------------------------------

  /** Walk/create the folder chain for a `/a/b/` path; returns the leaf
    * folder id (None = root). Folders are matched by (parent, name)
    * and created through the journal like ensureFolderPathExists. */
  private def ensureFolderPath(path: String): Either[String, Option[String]] = store.synchronized {
    // under the store monitor: the find-or-create per segment must be
    // atomic against concurrent deploys (or both mint the same folder
    // name twice), and the values iteration races apply() otherwise
    val segs = path.split("/").filter(_.nonEmpty)
    segs.find(!validFolderName(_)).foreach(bad =>
      return Left(s"invalid folder name '$bad' in path"))
    var parent: Option[String] = None
    segs.foreach { seg =>
      store.folders.values.find(f => f.parentId == parent && f.name == seg) match {
        case Some(f) => parent = Some(f.id)
        case None =>
          val id = store.tokens.newId()
          val pj = parent.map(p => s""","parentFolderId":${Model.jsonValue(p)}""").getOrElse("")
          if (!submitFn("create_folder",
              s"""{"id":${Model.jsonValue(id)},"name":${Model.jsonValue(seg)}$pj}"""))
            return Left(s"failed to create folder '$seg'")
          parent = Some(id)
      }
    }
    Right(parent)
  }

  /** POST /api/deploy — batch create/update/delete of dashboards and
    * tasks from config files (handler/deploy.go:26-93): first failing
    * operation aborts with `apps[i]: reason`; applied prefix stays
    * applied (the reference loops the same way — no transaction). */
  /** GET /api/journal/events?after=N — this node's own journal tail for
    * peer replication (PeerSync). Gated by the cluster-internal sync
    * token (constant-time compare, the comms-token model); 404 when the
    * deployment hasn't enabled sync, so the route's existence leaks
    * nothing. Batches are capped: a fresh peer pulling a long history
    * re-polls until a short batch. */
  private def handleJournalEvents(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "GET") return respond(ex, 405, jsonError("method not allowed"))
    if (journal == null || config.syncToken.isEmpty)
      return respond(ex, 404, jsonError("not found"))
    val ok = bearer(ex).exists(t => java.security.MessageDigest.isEqual(
      t.getBytes(StandardCharsets.UTF_8),
      config.syncToken.getBytes(StandardCharsets.UTF_8)))
    if (!ok) return respond(ex, 401, jsonError("Unauthorized"))
    val after = Option(ex.getRequestURI.getQuery).toSeq
      .flatMap(_.split("&")).collectFirst {
        case s if s.startsWith("after=") => s.drop(6).toLongOption
      }.flatten.getOrElse(0L)
    val events = journal.read(after, HttpApi.SyncBatchLimit)
    val body = events.map { e =>
      s"""{"seq":${e.seq},"event":${Model.jsonValue(e.event)},""" +
        s""""payload":${SchemaInfer.toJsonString(e.payload)}}"""
    }.mkString("[", ",", "]")
    respond(ex, 200, s"""{"events":$body}""")
  }

  private def handleDeploy(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") return respond(ex, 405, jsonError("method not allowed"))
    // NoEdit blocks only USER actors — a deploy-permitted API key still
    // deploys (deploy.go:41-46).
    val isApiKey = bearer(ex).exists(Tokens.isApiKeyToken)
    if (!requireDeployKeyOrUser(ex)) return
    if (!config.editEnabled && !isApiKey)
      return respond(ex, 403, jsonError("User deployment is disabled on this server because editing is disabled"))
    val o = parsedBody(ex).getOrElse(
      return respond(ex, 400, jsonError("invalid request body")))
    val items = o.map.get("apps") match {
      case Some(SchemaInfer.JArray(xs)) if xs.nonEmpty => xs
      case _ => return respond(ex, 400, jsonError("apps array is required"))
    }
    val results = Vector.newBuilder[String]
    items.zipWithIndex.foreach {
      case (item: SchemaInfer.JObject, idx) =>
        deployOne(item, idx) match {
          case Right(json) => results += json
          case Left(err) => return respond(ex, 400, jsonError(err))
        }
      case (_, idx) => return respond(ex, 400, jsonError(s"apps[$idx]: invalid entry"))
    }
    respond(ex, 200, results.result().mkString("{\"results\":[", ",", "]}"))
  }

  private def deployOne(item: SchemaInfer.JObject, idx: Int): Either[String, String] = {
    val op = jStr(item, "operation").trim.toLowerCase
    val tpe = jStr(item, "type").trim.toLowerCase
    if (tpe != "dashboard" && tpe != "task")
      return Left(s"apps[$idx]: unsupported type \"${jStr(item, "type")}\"")
    val data = item.map.get("data") match {
      case Some(d: SchemaInfer.JObject) => d
      case _ => SchemaInfer.JObject(Vector.empty)
    }
    def field(k: String): Option[String] =
      data.map.get(k).collect { case SchemaInfer.JString(s) => s }
    def result(status: String, id: String): String =
      s"""{"operation":${Model.jsonValue(op)},"type":${Model.jsonValue(tpe)},""" +
        s""""id":${Model.jsonValue(id)},"status":${Model.jsonValue(status)}}"""
    val exists: String => Boolean =
      if (tpe == "task") store.tasks.contains else store.dashboards.contains
    op match {
      case "create" =>
        val name = field("name").map(_.trim).filter(_.nonEmpty)
          .getOrElse(return Left(s"apps[$idx]: name is required for create operations"))
        val path = field("path")
          .getOrElse(return Left(s"apps[$idx]: path is required for create operations"))
        val content = field("content")
          .getOrElse(return Left(s"apps[$idx]: content is required for create operations"))
        val requested = field("id").map(_.trim)
        if (requested.exists(_.isEmpty))
          return Left(s"apps[$idx]: id cannot be empty when provided")
        val folderId = ensureFolderPath(path) match {
          case Right(f) => f
          case Left(err) => return Left(s"apps[$idx]: $err")
        }
        val id = requested.getOrElse(store.tokens.newId())
        if (exists(id)) return Left(s"apps[$idx]: id already exists")
        val fj = folderId.map(f => s""","folderId":${Model.jsonValue(f)}""").getOrElse("")
        if (!submitFn(s"create_$tpe",
            s"""{"id":${Model.jsonValue(id)},"name":${Model.jsonValue(name)},""" +
              s""""content":${Model.jsonValue(content)}$fj,""" +
              s""""timestamp":${System.currentTimeMillis()}}"""))
          Left(s"apps[$idx]: create rejected")
        else {
          if (tpe == "task") Option(scheduler).foreach(_.schedule(id, content))
          Right(result("created", id))
        }
      case "update" =>
        val id = field("id").map(_.trim).filter(_.nonEmpty)
          .getOrElse(return Left(s"apps[$idx]: id is required for update operations"))
        if (!exists(id)) return Left(s"apps[$idx]: $tpe not found")
        // a journal-first submit can fail (write error) — reporting
        // "updated" over a dropped event would be silent data loss
        val ts = s""","timestamp":${System.currentTimeMillis()}"""
        field("content").foreach { c =>
          if (!submitFn(s"update_${tpe}_content",
              s"""{"id":${Model.jsonValue(id)},"content":${Model.jsonValue(c)}$ts}"""))
            return Left(s"apps[$idx]: content update rejected")
          if (tpe == "task") Option(scheduler).foreach(_.schedule(id, c))
        }
        field("name").map(_.trim).filter(_.nonEmpty).foreach(n =>
          if (!submitFn(s"update_${tpe}_name",
              s"""{"id":${Model.jsonValue(id)},"name":${Model.jsonValue(n)}$ts}"""))
            return Left(s"apps[$idx]: name update rejected"))
        field("path").foreach { path =>
          val folderId = ensureFolderPath(path) match {
            case Right(f) => f
            case Left(err) => return Left(s"apps[$idx]: $err")
          }
          val to = folderId.map(f => s""""toFolderId":${Model.jsonValue(f)},""").getOrElse("")
          if (!submitFn("move_items", s"""{$to"apps":[${Model.jsonValue(id)}]$ts}"""))
            return Left(s"apps[$idx]: move rejected")
        }
        Right(result("updated", id))
      case "delete" =>
        val id = field("id").map(_.trim).filter(_.nonEmpty)
          .getOrElse(return Left(s"apps[$idx]: id is required for delete operations"))
        if (!exists(id)) return Left(s"apps[$idx]: $tpe not found")
        if (!submitFn(s"delete_$tpe", s"""{"id":${Model.jsonValue(id)}}"""))
          return Left(s"apps[$idx]: delete rejected")
        if (tpe == "task") Option(scheduler).foreach(_.cancel(id))
        Right(result("deleted", id))
      case other => Left(s"apps[$idx]: unsupported operation \"$other\"")
    }
  }

  // ---- dashboard download intents (handler/dashboard.go:390-590) ------

  private final case class DownloadIntent(dashboardId: String, filename: String,
      queryId: Option[Int], queryParams: Map[String, Seq[String]],
      variables: Map[String, Any], expiresAtMillis: Long)

  /** Intent KV — the reference's DownloadsKv NATS bucket with a 10 min
    * TTL (main.go:443). Expired entries are purged on every mint, so
    * the map is bounded by the active-intent window. DIVERGENCE,
    * documented: the reference's bucket is cluster-shared; this map is
    * per-process, so behind a multi-node load balancer the redeem must
    * be routed to the minting node (session affinity) — or this map
    * swapped for a small shared-store table via the same interface. */
  private val downloads =
    new java.util.concurrent.ConcurrentHashMap[String, DownloadIntent]
  private val DownloadTtlMillis = 10L * 60 * 1000

  private def mintDownloadKey(): String = {
    val bytes = new Array[Byte](32)
    new java.security.SecureRandom().nextBytes(bytes)
    bytes.map("%02x".format(_)).mkString
  }

  /** GET /api/dashboards/:id/download/:filename — authenticate, resolve
    * vars, mint an unguessable short-lived URL carrying a
    * DownloadIntent (handler/dashboard.go:390-560). The browser then
    * GETs the URL with no auth header — the key is the credential.
    * Like the reference's KV entry, the key stays redeemable until the
    * TTL expires (DownloadFileByKey only Gets, never deletes — browsers
    * retry downloads), so the TTL is the whole exposure window. */
  private def handleRequestDashboardDownload(ex: HttpExchange, id: String,
      filename: String): Unit = {
    val fileType = filename.split("\\.") match {
      case parts if parts.length > 1 => parts.last.toLowerCase
      case _ => ""
    }
    if (!graft.interp.DownloadApi.allowedFileTypes.contains(fileType) && fileType != "png")
      return respond(ex, 400, jsonError("Invalid file type"))
    // auth: a JWT (dashboard-scoped must match this id), or an API key
    // with the dashboard-read permission
    val claimVars: Map[String, Any] = bearer(ex) match {
      case Some(tok) if Tokens.isApiKeyToken(tok) =>
        requireApiKey(ex, Tokens.Permission.ReadDashboard) match {
          case Some(_) => Map.empty
          case None => return
        }
      case Some(tok) => Auth.verify(tok, secret) match {
        case Right(claims) =>
          claims.dashboardId.filter(_ != id) match {
            case Some(sourceId) if fileType == "pdf" =>
              // cross-dashboard pdf: allowed only when the SOURCE
              // dashboard renders a pdf button targeting this id
              // (dashboard.go:444-466 over ValidateDashboardDownload)
              val ok = store.getDashboard(sourceId).exists(src =>
                graft.interp.DownloadAuth.validateDashboardDownload(
                  spark, src.content, sourceId, id, filename,
                  queryParams = queryParams(ex), variables = claims.variables,
                  prepare = prepare))
              if (!ok) return respond(ex, 401, jsonError("Unauthorized"))
            case Some(_) =>
              return respond(ex, 401, jsonError("Unauthorized"))
            case None =>
          }
          claims.variables
        case Left(_) => return respond(ex, 401, jsonError("Unauthorized"))
      }
      case None => return respond(ex, 401, jsonError("Unauthorized"))
    }
    if (!store.dashboards.contains(id))
      return respond(ex, 404, jsonError("dashboard not found"))
    val q = queryParams(ex)
    // ?vars= is base64(JSON url.Values): {"name": ["v1", ...], ...}
    val vars: Map[String, Seq[String]] = q.get("vars").flatMap(_.headOption) match {
      case None => Map.empty
      case Some(b64) =>
        try {
          val json = new String(java.util.Base64.getDecoder.decode(b64), StandardCharsets.UTF_8)
          SchemaInfer.parseOrdered(json).fields.map { case (k, v) =>
            k -> (v match {
              case SchemaInfer.JArray(items) =>
                items.collect { case SchemaInfer.JString(s) => s }
              case SchemaInfer.JString(s) => Seq(s)
              case _ => Seq.empty[String]
            })
          }.toMap
        } catch {
          case _: Exception =>
            return respond(ex, 400, jsonError("Invalid vars query parameter"))
        }
    }
    val queryId = q.get("query_id").flatMap(_.headOption).flatMap(_.toIntOption)
    val now = System.currentTimeMillis()
    downloads.entrySet().removeIf(e => e.getValue.expiresAtMillis < now)
    val key = mintDownloadKey()
    downloads.put(key, DownloadIntent(id, filename, queryId, vars, claimVars,
      now + DownloadTtlMillis))
    respond(ex, 200, "{\"url\":" + Model.jsonValue(s"/api/download/$key/$filename") + "}")
  }

  /** GET /api/download/:key/:filename — redeem a DownloadIntent
    * (handler/dashboard.go:565-590): csv/json/xlsx stream the target
    * query through the download writers; pdf/png render the whole
    * dashboard. */
  private def handleDownloadByKey(ex: HttpExchange, key: String, filename: String): Unit = {
    val intent = Option(downloads.get(key))
      .filter(_.expiresAtMillis >= System.currentTimeMillis())
      // the filename (and so the format) was validated at MINT time —
      // honoring a rewritten extension would let a key holder escalate
      // a single-query csv intent into a whole-dashboard pdf render
      .filter(_.filename == filename)
      .getOrElse(return respond(ex, 404, jsonError("Download not found or expired")))
    val meta = store.dashboards.get(intent.dashboardId)
      .getOrElse(return respond(ex, 404, jsonError("dashboard not found")))
    val fileType = intent.filename.split("\\.").last.toLowerCase
    def attach(ct: String): Unit = {
      ex.getResponseHeaders.set("Content-Type", ct)
      ex.getResponseHeaders.set("Content-Disposition",
        s"""attachment; filename="${headerSafe(filename)}"""")
    }
    fileType match {
      case "pdf" | "png" =>
        val result = Dashboard.run(spark, meta.content, Dashboard.RunConfig(
          dashboardId = intent.dashboardId,
          queryParams = intent.queryParams,
          variables = intent.variables,
          prepare = prepare)).copy(name = meta.name)
        val bytes = if (fileType == "pdf") graft.render.Pdf.render(result)
          else graft.render.Png.render(result)
        countRequest(ex, 200)
        attach(if (fileType == "pdf") "application/pdf" else "image/png")
        ex.sendResponseHeaders(200, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
      case "csv" | "json" | "xlsx" =>
        val out = new StringWriter
        val bin = new java.io.ByteArrayOutputStream
        graft.interp.Download.run(spark, meta.content, fileType, out,
            queryId = intent.queryId, queryParams = intent.queryParams,
            variables = intent.variables, prepare = prepare, binOut = bin) match {
          case Left(err) => respond(ex, 500, jsonError(err))
          case Right(()) =>
            if (fileType == "xlsx") {
              val bytes = bin.toByteArray
              countRequest(ex, 200)
              attach("application/vnd.openxmlformats-officedocument.spreadsheetml.sheet")
              ex.sendResponseHeaders(200, bytes.length.toLong)
              ex.getResponseBody.write(bytes)
            } else {
              attach(if (fileType == "json") "application/json" else "text/csv")
              respond(ex, 200, out.toString,
                contentType = if (fileType == "json") "application/json" else "text/csv")
            }
        }
      case other => respond(ex, 400, jsonError(s"Invalid file type: $other"))
    }
  }
}
