package servebench

import graft.api.HttpApi
import graft.auth.{Auth, Tokens}
import graft.state.StateJournal
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}

/** Everything a run builds before it measures: the Spark session (with
  * `graft.Serve`'s settings), the input tables (generated from fixed
  * formulas so a checkout needs no outside data), and a served
  * `HttpApi` with the benchmark's dashboards deployed. */
object Setup {

  /** The settings `graft.Serve` builds its session with. */
  def session(cpus: Int, warehouse: String, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  // ---- input tables ----------------------------------------------------
  // Same row count, value ranges and distinct counts as the sf0.1
  // `events` table (100k events). Four files whatever the core count, so
  // the layout is the same on every machine.
  private val Files = 4

  private[servebench] def h(k: Int, m: Long): String = s"pmod(xxhash64(id, $k), $m)"
  private[servebench] def pick(k: Int, values: String*): String =
    s"element_at(array(${values.map(v => s"'$v'").mkString(",")}), int(${h(k, values.length)}) + 1)"

  def events(spark: SparkSession): DataFrame =
    spark.range(0, 100000, 1, Files).selectExpr(
      "id AS event_id",
      s"timestamp_micros(1704067200000000 + ${h(1, 2592000000000L)}) AS ts",
      s"${h(2, 1500)} AS user_id",
      s"${pick(3, "click", "error", "purchase", "signup", "view")} AS event_type",
      s"${h(4, 56022)} / 100.0D AS value",
      s"concat('{\"k\": ', ${h(5, 100)}, '}') AS props")

  /** Save `events` as a catalog table in the run's warehouse, replacing
    * any earlier copy. */
  def saveEvents(spark: SparkSession): Unit =
    events(spark).write.mode(SaveMode.Overwrite).format("parquet").saveAsTable("events")

  // ---- the served program ------------------------------------------------

  val Secret = "servebench-secret"

  /** A started server plus the credentials its clients use. */
  final class Served(val api: HttpApi, val port: Int, val apiKey: String) {
    def stop(): Unit = api.stop()
  }

  /** Build the server the way `graft.Serve` does (no `prepare` hook unless
    * the traced run passes its timestamping one), deploy `dashboards`
    * over the API and mint an ingest key. */
  def serve(spark: SparkSession, dashboards: Seq[Dash],
      prepare: SparkSession => Unit = _ => ()): Served = {
    val store = new StateJournal.MetaStore()
    val api = new HttpApi(spark, store, Secret, prepare = prepare)
    val port = api.start()
    val (_, key) = store.tokens.createApiKey("servebench",
      Seq(Tokens.Permission.IngestData),
      Tokens.Actor(Tokens.ActorType.User, "servebench"))
    val client = new Client(port)
    val admin = jwt(None, Map.empty)
    dashboards.foreach { d =>
      val body = s"""{"id":${Json.str(d.id)},"name":${Json.str(d.id)},"content":${Json.str(d.content)}}"""
      val r = client.post("/api/dashboards", body, admin)
      if (r.status != 200)
        throw new IllegalStateException(s"deploying ${d.id} failed: ${r.status} ${r.body}")
    }
    new Served(api, port, key)
  }

  /** A render JWT: `dashboardId`-scoped when given, carrying the
    * protected variables a secure dashboard reads. */
  def jwt(dashboardId: Option[String], variables: Map[String, Any]): String =
    Auth.sign(Auth.Claims(dashboardId, variables, isPublic = false, longLived = false,
      exp = System.currentTimeMillis() / 1000 + 3600), Secret)

  /** Rows as the render JSON carries them: timestamps as epoch millis,
    * numbers and strings as they are. */
  def jsonRows(rows: Seq[Row]): Seq[Seq[Any]] = rows.map(_.toSeq.map {
    case t: java.sql.Timestamp => t.getTime
    case t: java.time.Instant => t.toEpochMilli
    case other => other
  })
}
