package graft

import graft.interp.Dashboard.RunConfig
import graft.interp.{Dashboard, Download, ResultCache}
import graft.tasks.Tasks
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftsession.SessionHooks
import org.scalatest.funsuite.AnyFunSuite

import java.io.StringWriter

/** Per-request sessions (`Sessions.request`): every render, task and
  * download gets its own namespace, yet repeating a request compiles no
  * generated code — the executor class loader (and with it Spark's
  * codegen cache) is shared. Compile counts are Janino compilations in
  * this JVM, read from Spark's `CodegenMetrics`. */
class SessionsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The benchmark's events shape, as a per-request temp view. */
  private def events(ss: SparkSession): Unit = eventsFrame(ss).createOrReplaceTempView("events")

  private def eventsFrame(ss: SparkSession) =
    ss.range(2000).selectExpr("id AS event_id",
      "timestamp_seconds(1704067200 + id * 900) AS ts", "id % 37 AS user_id",
      "element_at(array('click', 'error', 'purchase', 'signup', 'view'), " +
        "CAST(id % 5 AS INT) + 1) AS event_type")

  private val demo =
    """SELECT 'Sessions per Week'::LABEL;
      |SELECT date_trunc('week', ts)::XAXIS, event_type::CATEGORY,
      |       count()::BARCHART_STACKED
      |FROM events GROUP BY ALL ORDER BY ALL;""".stripMargin

  private val widgets =
    """SELECT 'Widget Demo'::SECTION;
      |SELECT 'click'::DROPDOWN AS evtype UNION ALL SELECT 'view'::DROPDOWN;
      |SELECT count(*)::GAUGE AS n FROM events WHERE event_type = getvariable('evtype');
      |SELECT 'Top users'::LABEL;
      |SELECT user_id, count(*) AS n FROM events
      |WHERE event_type = getvariable('evtype')
      |GROUP BY user_id ORDER BY n DESC, user_id LIMIT 5;""".stripMargin

  /** The same events as a parquet catalog table whose files are
    * rewritten with the same rows per call of `rewriteEvents`, so a render
    * repeated over it misses the result cache (`interp.ResultCache`;
    * rewritten files are never answered incrementally) and runs its
    * statements again through the same generated code. */
  private val EventsTable = "sessions_spec_events"
  private lazy val eventsTable: Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $EventsTable")
    val loc = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"), EventsTable)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    eventsFrame(spark).write.saveAsTable(EventsTable)
  }
  private def rewriteEvents(): Unit = {
    eventsTable
    eventsFrame(spark).write.mode("overwrite").insertInto(EventsTable)
  }
  private def growingEvents(ss: SparkSession): Unit =
    ss.table(EventsTable).createOrReplaceTempView("events")

  /** Janino compilations and result-cache misses during runs 2 to 4 of
    * the same request; run 1 may compile, a steady state must not. */
  private def steadyState(request: () => Unit): (Long, Long) = {
    request()
    val (compiles, misses) = (Sessions.codegenCompiles, ResultCache.shared.misses.get)
    (2 to 4).foreach(_ => request())
    (Sessions.codegenCompiles - compiles, ResultCache.shared.misses.get - misses)
  }

  private def steadyStateCompiles(request: () => Unit): Long = steadyState(request)._1

  test("a request session has artifact isolation off; the parent keeps its setting") {
    val key = "spark.sql.artifact.isolation.enabled"
    val parent = spark.conf.get(key)
    val s = Sessions.request(spark)
    assert(s ne spark)
    assert(s.conf.get(key) == "false")
    assert(spark.conf.get(key) == parent)
  }

  test("a request session is made with no state; its text parts are those of a built one") {
    val key = "spark.sql.artifact.isolation.enabled"
    val s = Sessions.request(spark)
    // no conf.set: isolation is an initial option, and nothing built the state
    assert(!SessionHooks.stateBuilt(s))
    assert(SessionHooks.initialOptions(s).get(key).contains("false"))
    val parts = Sessions.textParts(s)
    assert(!SessionHooks.stateBuilt(s), "reading the text parts built the state")
    assert(parts.conf.get(key).contains("false"))
    // a fresh request session whose state is built reads the same parts
    val built = Sessions.request(spark)
    assert(built.conf.get(key) == "false")
    assert(SessionHooks.stateBuilt(built))
    assert(Sessions.textParts(built) == parts)
    assert((parts.catalog, parts.namespace) == (built.catalog.currentCatalog(), built.catalog.currentDatabase))
    built.sql("SELECT count(*) FROM range(10)").collect()
    assert(Sessions.textParts(built) == parts, "running a query changed the text parts")
    // and the unbuilt one, once built, reads them too
    assert(s.conf.get(key) == "false")
    assert(SessionHooks.stateBuilt(s) && Sessions.textParts(s) == parts)
  }

  test("steady-state dashboard renders compile no generated code: demo and widgets") {
    // each render follows a rewrite, so its statements over events miss
    // the result cache and really run: 1 such statement in demo, 2 in widgets
    Seq(
      (demo, RunConfig(prepare = growingEvents), 1),
      (widgets, RunConfig(queryParams = Map("evtype" -> Seq("view")), prepare = growingEvents), 2))
      .foreach { case (content, cfg, overEvents) =>
        val (n, misses) = steadyState(() => {
          rewriteEvents()
          val r = Dashboard.run(spark, content, cfg)
          assert(r.sections.flatMap(_.queries).exists(_.rows.nonEmpty))
        })
        assert(misses == 3 * overEvents, s"renders 2-4 missed $misses times:\n$content")
        assert(n == 0, s"renders 2-4 compiled $n classes:\n$content")
      }
  }

  test("a steady-state aggregate task compiles no generated code") {
    // each run follows a rewrite, so the task's one statement misses the
    // result cache and really runs
    val task = "SELECT event_type, count(*) AS n, max(ts) AS last FROM events " +
      "GROUP BY event_type ORDER BY event_type;"
    val (n, misses) = steadyState(() => {
      rewriteEvents()
      val r = Tasks.executeTask(spark, task, prepare = growingEvents)
      assert(r.success, r)
    })
    assert(misses == 3, s"task runs 2-4 missed $misses times")
    assert(n == 0, s"task runs 2-4 compiled $n classes")
  }

  test("a steady-state download compiles no generated code") {
    val content =
      """SELECT 'click'::DROPDOWN AS evtype UNION ALL SELECT 'view'::DROPDOWN;
        |SELECT 'users.csv'::DOWNLOAD_CSV AS dl;
        |SELECT user_id, count(*) AS n FROM events
        |WHERE event_type = getvariable('evtype')
        |GROUP BY user_id ORDER BY user_id;""".stripMargin
    val n = steadyStateCompiles(() => {
      val w = new StringWriter
      val r = Download.run(spark, content, "csv", w, prepare = events)
      assert(r.isRight, r)
      assert(w.toString.linesIterator.next() == "user_id,n")
    })
    assert(n == 0, s"downloads 2-4 compiled $n classes")
  }

  test("a temp view created in one render is not visible to the next render") {
    val first = Dashboard.run(spark,
      "CREATE TEMP VIEW leak AS SELECT 41 + 1 AS x;\nSELECT x FROM leak;")
    assert(first.sections.head.queries.head.rows == Seq(Seq(42)))
    val e = intercept[Exception](Dashboard.run(spark, "SELECT x FROM leak;"))
    assert(e.getMessage.contains("leak"), e.getMessage)
    assert(!spark.catalog.tableExists("leak"))
  }

  test("a JWT variable from one render is not seen by a render without it") {
    val content = "SELECT getvariable('tenant') AS t;"
    val withClaim = Dashboard.run(spark, content,
      RunConfig(variables = Map("tenant" -> "acme")))
    assert(withClaim.sections.head.queries.head.rows == Seq(Seq("acme")))
    assert(withClaim.unsetVariables.isEmpty)
    val without = Dashboard.run(spark, content)
    assert(without.unsetVariables == Seq("tenant"))
    assert(!without.sections.flatMap(_.queries).flatMap(_.rows).flatten.contains("acme"))
  }

  test("a request session is born with every engine function and BOXPLOT; nothing registers") {
    val s = Sessions.request(spark)
    val registry = s.sessionState.functionRegistry
    GraftExtensions.functions.foreach { case (id, info, _) =>
      assert(registry.lookupFunction(id).exists(_ eq info), id)
    }
    assert(Sessions.holdsBornFunctions(s))
    val row = s.sql("SELECT len(array(1, 2, 3)) AS n, len('abcd') AS c, " +
      "BOXPLOT(CAST(id AS DOUBLE)).q2 AS median, " +
      "cosine_sim(array(3.0D, 4.0D), array(3.0D, 4.0D)) AS cos FROM range(5)").head
    assert((row.getInt(0), row.getInt(1), row.getDouble(2), row.getDouble(3)) == (3, 4, 2.0, 1.0))
    val tagged = s.sql(graft.sqlfront.Dialect.rewrite("SELECT 'Title'::LABEL"))
    assert(tagged.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    // a function made in the session is not one it was born with
    s.udf.register("rc_plus_one", (x: Long) => x + 1)
    assert(!Sessions.holdsBornFunctions(s))
    assert(Sessions.holdsBornFunctions(Sessions.request(spark)))
  }

  test("a plain newSession made after a request gives Spark's len on strings and binary") {
    Sessions.request(spark)
    val plain = spark.newSession()
    def lengths(fn: String) = plain.sql(s"SELECT $fn('héllo') AS s, $fn('') AS e, " +
      s"$fn(X'0102FF') AS b, $fn(CAST(NULL AS STRING)) AS n, $fn(CAST(NULL AS BINARY)) AS nb").head.toSeq
    assert(lengths("len") == Seq(5, 0, 3, null, null))
    assert(lengths("len") == lengths("length"))
  }
}
