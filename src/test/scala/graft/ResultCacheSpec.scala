package graft

import graft.interp.{Dashboard, ResultCache, Statements}
import graft.interp.Dashboard.RunConfig
import graft.render.Model
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The interpreter's result cache (`interp.ResultCache`): a render reuses
  * a statement's rows only while its optimized plan, output schema, SQL
  * conf and input files are unchanged, advances an aggregate from its
  * state when its table only gained files, and never reuses a result that
  * a fresh run could answer differently. Counts are deltas of the shared
  * cache's counters; every spec reads its own fresh parquet directory. */
class ResultCacheSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val cache = ResultCache.shared

  /** A fresh parquet directory holding `n` event rows. */
  private def table(n: Int): String = {
    val dir = Files.createTempDirectory("result-cache-spec").resolve("t").toString
    append(dir, 0, n)
    dir
  }

  /** Append rows `from until to` to the directory as one more file. */
  private def append(dir: String, from: Int, to: Int): Unit =
    spark.range(from, to).selectExpr("id AS v", "id % 3 AS k",
      "element_at(array('a', 'b', 'c'), CAST(id % 3 AS INT) + 1) AS tenant")
      .coalesce(1).write.mode("append").parquet(dir)

  /** A render configuration that reads `dir` as the temp view `t`. */
  private def over(dir: String, variables: Map[String, Any] = Map.empty): RunConfig =
    RunConfig(variables = variables, prepare = ss => ss.read.parquet(dir).createOrReplaceTempView("t"))

  private def rowsOf(r: Model.GetResult): Seq[Seq[Seq[Any]]] =
    r.sections.flatMap(_.queries).map(_.rows)

  /** `body`'s result with the hits and misses it added. */
  private def counted[A](body: => A): (A, Long, Long) = {
    val (h, m) = (cache.hits.get, cache.misses.get)
    val a = body
    (a, cache.hits.get - h, cache.misses.get - m)
  }

  /** Spark jobs `body` launches from this thread. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = "result-cache-spec-" + java.util.UUID.randomUUID()
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.graftdev.ListenerDrain.drain(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  /** A render configuration that reads `dir` as `t` with a declared
    * schema, so planning runs no schema-inference job. */
  private def typed(dir: String, variables: Map[String, Any] = Map.empty): RunConfig =
    RunConfig(variables = variables, prepare = ss =>
      ss.read.schema("v BIGINT, k BIGINT, tenant STRING").parquet(dir).createOrReplaceTempView("t"))

  /** Append rows `from until to` with NULL values and NULL keys mixed in. */
  private def appendNulls(dir: String, from: Int, to: Int): Unit =
    spark.range(from, to).selectExpr("IF(id % 4 = 0, NULL, id) AS v",
      "IF(id % 5 = 0, NULL, id % 3) AS k",
      "element_at(array('a', 'b', 'c'), CAST(id % 3 AS INT) + 1) AS tenant")
      .coalesce(1).write.mode("append").parquet(dir)

  /** The same render through a fresh, empty cache: a full recompute. */
  private def recomputed(content: String, cfg: RunConfig): String =
    Model.toJson(Dashboard.run(spark, content, cfg.copy(cache = new ResultCache(64L << 20))))

  /** The render's JSON, the Spark jobs it ran and the (hits, incremental
    * answers, misses) it added to the shared cache. */
  private def outcome(content: String, cfg: RunConfig): (String, Int, (Long, Long, Long)) = {
    val (h, i, m) = (cache.hits.get, cache.incremental.get, cache.misses.get)
    var json = ""
    val jobs = jobsOf { json = Model.toJson(Dashboard.run(spark, content, cfg)) }
    (json, jobs, (cache.hits.get - h, cache.incremental.get - i, cache.misses.get - m))
  }

  /** The parquet files under `dir`, oldest first. */
  private def parquetFiles(dir: String): Seq[java.nio.file.Path] = {
    val all = Files.list(java.nio.file.Paths.get(dir))
    try all.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(p => (Files.getLastModifiedTime(p).toMillis, p.toString))
    finally all.close()
  }

  /** Remove a parquet file with its checksum sibling. */
  private def remove(file: java.nio.file.Path): Unit = {
    Files.delete(file)
    Files.deleteIfExists(file.resolveSibling(s".${file.getFileName}.crc"))
  }

  /** Render, change the files, render again: the second render must equal
    * a full recompute and have the given outcome; an incremental answer
    * must run no Spark job. */
  private def afterChange(content: String, cfg: RunConfig, expected: (Long, Long, Long))(
      change: => Unit): String = {
    outcome(content, cfg)
    change
    val (json, jobs, counts) = outcome(content, cfg)
    assert(counts == expected, s"(hits, incremental, misses) for\n$content")
    if (expected._2 > 0) assert(jobs == 0, s"an incremental answer ran $jobs Spark jobs")
    assert(json == recomputed(content, cfg))
    json
  }

  test("a repeat render over unchanged files is answered from the cache with no Spark job") {
    // a catalog table: reading a parquet path as a view infers its schema
    // with a job of its own on every render
    spark.sql("DROP TABLE IF EXISTS result_cache_spec")
    spark.sql(s"CREATE TABLE result_cache_spec USING parquet LOCATION '${table(100)}'")
    val cfg = RunConfig()
    val content = "SELECT 'Per key'::LABEL;\n" +
      "SELECT k, count(*) AS n FROM result_cache_spec GROUP BY k ORDER BY k;"
    val (first, _, firstMisses) = counted(Dashboard.run(spark, content, cfg))
    assert(firstMisses >= 1)
    var second: Model.GetResult = null
    val jobs = jobsOf { second = Dashboard.run(spark, content, cfg) }
    assert(jobs == 0)
    val (third, hits, misses) = counted(Dashboard.run(spark, content, cfg))
    assert((hits, misses) == (2, 0))
    assert(Model.toJson(second) == Model.toJson(first))
    assert(Model.toJson(third) == Model.toJson(first))
    assert(rowsOf(first).last == Seq(Seq(0, 34), Seq(1, 33), Seq(2, 33)))
    spark.sql("DROP TABLE result_cache_spec")
  }

  test("two statements that differ only by an alias get their own column names") {
    val cfg = over(table(10))
    val a = Dashboard.run(spark, "SELECT count(*) AS a FROM t;", cfg)
    val (b, hits, _) = counted(Dashboard.run(spark, "SELECT count(*) AS b FROM t;", cfg))
    assert(hits == 0)
    assert(a.sections.head.queries.head.columns.map(_.name) == Seq("a"))
    assert(b.sections.head.queries.head.columns.map(_.name) == Seq("b"))
  }

  test("an appended file is answered incrementally with the new rows") {
    val dir = table(10)
    val content = "SELECT count(*) AS n, sum(v) AS s FROM t;"
    assert(rowsOf(Dashboard.run(spark, content, over(dir))) == Seq(Seq(Seq(10, 45))))
    append(dir, 10, 12)
    val i = cache.incremental.get
    val (r, hits, misses) = counted(Dashboard.run(spark, content, over(dir)))
    assert((hits, misses, cache.incremental.get - i) == (0, 0, 1))
    assert(rowsOf(r) == Seq(Seq(Seq(12, 66))))
  }

  test("now() is never answered with an earlier render's time") {
    val cfg = over(table(5))
    val content = "SELECT now() AS at, count(*) AS n FROM t;"
    def at(): java.sql.Timestamp =
      Dashboard.run(spark, content, cfg).sections.head.queries.head.rows.head.head match {
        case ms: Long => new java.sql.Timestamp(ms)
        case other => fail(s"unexpected cell $other")
      }
    val first = at()
    Thread.sleep(5)
    val (second, hits, _) = counted(at())
    assert(hits == 0)
    assert(second.after(first), s"$first then $second")
  }

  test("rand() and uuid() statements are never cached") {
    val cfg = over(table(5))
    Seq("SELECT v, rand() AS r FROM t ORDER BY v;", "SELECT v, uuid() AS u FROM t ORDER BY v;")
      .foreach { content =>
        val (first, h1, m1) = counted(rowsOf(Dashboard.run(spark, content, cfg)))
        val (second, h2, m2) = counted(rowsOf(Dashboard.run(spark, content, cfg)))
        assert((h1, m1, h2, m2) == (0, 0, 0, 0), content)
        assert(first != second, content)
      }
  }

  test("two JWT claims never see each other's rows") {
    val dir = table(30)
    val content = "SELECT getvariable('tenant') AS who, count(*) AS n, sum(v) AS s " +
      "FROM t WHERE tenant = getvariable('tenant') GROUP BY 1;"
    def render(tenant: String) =
      rowsOf(Dashboard.run(spark, content, over(dir, Map("tenant" -> tenant))))
    val a = render("a")
    val b = render("b")
    assert(a == Seq(Seq(Seq("a", 10, 135))))
    assert(b == Seq(Seq(Seq("b", 10, 145))))
    val (again, hits, misses) = counted(render("a"))
    assert(again == a && hits == 1 && misses == 0)
  }

  test("temp view bodies that differ between renders give distinct results") {
    def render(x: Int) = rowsOf(Dashboard.run(spark,
      s"CREATE TEMP VIEW w AS SELECT * FROM VALUES ($x), (${x + 1}) AS s(x);\n" +
        "SELECT sum(x) AS total FROM w;"))
    assert(render(1) == Seq(Seq(Seq(3))))
    assert(render(10) == Seq(Seq(Seq(21))))
    assert(render(1) == Seq(Seq(Seq(3))))
  }

  test("a statement over a small CREATE TEMP TABLE is keyed on the table's rows") {
    val dir = table(20)
    val content = "CREATE TEMP TABLE hot AS SELECT * FROM t WHERE k = 1;\n" +
      "SELECT count(*) AS n FROM hot;"
    val (first, h1, m1) = counted(rowsOf(Dashboard.run(spark, content, over(dir))))
    assert(first == Seq(Seq(Seq(7))))
    append(dir, 20, 23)
    val (second, h2, m2) = counted(rowsOf(Dashboard.run(spark, content, over(dir))))
    assert(second == Seq(Seq(Seq(8))))
    val (third, h3, m3) = counted(rowsOf(Dashboard.run(spark, content, over(dir))))
    assert(third == second)
    assert((h1, m1, h2, m2, h3, m3) == (0, 1, 0, 1, 1, 0))
  }

  test("an append to a table read only by a scalar subquery invalidates the result") {
    val dir = table(10)
    val content = "SELECT x, (SELECT max(v) FROM t) AS top FROM VALUES (1) AS s(x);"
    assert(rowsOf(Dashboard.run(spark, content, over(dir))) == Seq(Seq(Seq(1, 9))))
    assert(counted(Dashboard.run(spark, content, over(dir)))._2 == 1)
    append(dir, 10, 15)
    val (r, hits, misses) = counted(rowsOf(Dashboard.run(spark, content, over(dir))))
    assert((hits, misses) == (0, 1))
    assert(r == Seq(Seq(Seq(1, 14))))
  }

  test("a download-link dashboard rendered twice gives identical JSON") {
    val cfg = over(table(10)).copy(dashboardId = "dl")
    val content = "SELECT 'rows'::DOWNLOAD_CSV AS dl;\nSELECT v FROM t ORDER BY v;"
    val first = Model.toJson(Dashboard.run(spark, content, cfg))
    val (second, hits, _) = counted(Model.toJson(Dashboard.run(spark, content, cfg)))
    assert(hits >= 1)
    assert(first.contains("api/dashboards/dl/download/rows.csv"), first)
    assert(second == first)
  }

  test("a download after a render replays the statements before its target from the cache") {
    val cfg = over(table(12))
    val content =
      """SELECT min(tenant)::DROPDOWN AS who FROM t;
        |SELECT 'rows'::DOWNLOAD_CSV AS dl;
        |SELECT v FROM t WHERE tenant = getvariable('who') ORDER BY v;""".stripMargin
    Dashboard.run(spark, content, cfg)
    val out = new java.io.StringWriter
    val (r, hits, misses) = counted(
      graft.interp.Download.run(spark, content, "csv", out, prepare = cfg.prepare))
    assert(r.isRight, r)
    assert((hits, misses) == (2, 0))
    assert(out.toString.linesIterator.toSeq == Seq("v", "0", "3", "6", "9"))
  }

  test("the byte budget evicts least recently used results") {
    val budget = 1L << 20
    val small = new ResultCache(budget)
    val ss = Sessions.request(spark)
    ss.read.parquet(table(400)).createOrReplaceTempView("t")
    def missed(i: Int): Boolean = {
      val m = small.misses.get
      small.collect(ss.sql(s"SELECT v, repeat('x', 500) AS pad, $i AS i FROM t ORDER BY v"), 3001)
      small.misses.get > m
    }
    assert(missed(0))
    assert(!missed(0))
    val one = small.bytes
    assert(one > 100000 && one < budget, one)
    // one more result than the budget holds: the least recently used goes
    val fits = (budget / one).toInt
    (1 to fits).foreach(i => assert(missed(i)))
    assert(small.bytes <= budget)
    assert(missed(0))
    assert(!missed(fits))
  }

  test("an append with NULL keys and values is answered incrementally, equal to a full run") {
    val dir = table(30)
    val content = "SELECT k, count(*) AS n, count(v) AS c, sum(v) AS s, min(v) AS lo, max(v) AS hi " +
      "FROM t GROUP BY k ORDER BY k;\nSELECT count(*) AS n, sum(v) AS s, min(tenant) AS lo FROM t;"
    val json = afterChange(content, typed(dir), (0, 2, 0))(appendNulls(dir, 30, 45))
    assert(json.contains("null"), json)
  }

  test("an appended empty file is answered incrementally with the same rows") {
    val dir = table(20)
    val content = "SELECT k, count(*) AS n, sum(v) AS s FROM t GROUP BY k ORDER BY k;"
    val before = Model.toJson(Dashboard.run(spark, content, typed(dir)))
    val files = parquetFiles(dir).length
    val after = afterChange(content, typed(dir), (0, 1, 0))(append(dir, 0, 0))
    assert(parquetFiles(dir).length == files + 1)
    assert(after == before)
  }

  test("HAVING, ORDER BY and LIMIT above the aggregate are re-applied to the merged groups") {
    val dir = table(40)
    val content = "SELECT k, count(*) AS n, sum(v) AS s FROM t WHERE v % 7 <> 3 GROUP BY k " +
      "HAVING count(*) > 5 ORDER BY n DESC, k LIMIT 2;"
    afterChange(content, typed(dir), (0, 1, 0)) {
      spark.range(40, 60).selectExpr("id AS v", "IF(id < 55, 2, 5) AS k", "'d' AS tenant")
        .coalesce(1).write.mode("append").parquet(dir)
    }
  }

  test("a JWT variable below the aggregate: two tenants never share state") {
    val dir = table(30)
    val content = "SELECT getvariable('tenant') AS who, count(*) AS n, sum(v) AS s " +
      "FROM t WHERE tenant = getvariable('tenant') GROUP BY 1;"
    def cfg(tenant: String) = typed(dir, Map("tenant" -> tenant))
    Seq("a", "b").foreach(t => outcome(content, cfg(t)))
    append(dir, 30, 36)
    val results = Seq("a", "b").map { t =>
      val (json, jobs, counts) = outcome(content, cfg(t))
      assert(counts == (0, 1, 0) && jobs == 0, t)
      assert(json == recomputed(content, cfg(t)), t)
      json
    }
    assert(results.head.contains("[\"a\",12,") && results.last.contains("[\"b\",12,"), results)
  }

  test("now() in the filter is never answered incrementally") {
    val dir = table(10)
    val content = "SELECT count(*) AS n FROM t WHERE timestamp_seconds(v) < now();"
    afterChange(content, typed(dir), (0, 0, 0))(append(dir, 10, 12))
    // a statement that reads the clock is not stored: its stem holds the
    // run's time and would never be seen again
    val fresh = new ResultCache(64L << 20)
    Dashboard.run(spark, content, typed(dir).copy(cache = fresh))
    assert(fresh.size == 0)
  }

  test("a removed file falls back to a full run") {
    val dir = table(20)
    append(dir, 20, 25)
    val content = "SELECT k, count(*) AS n, sum(v) AS s FROM t GROUP BY k ORDER BY k;"
    afterChange(content, typed(dir), (0, 0, 1))(remove(parquetFiles(dir).head))
  }

  test("a rewritten file falls back to a full run") {
    val dir = table(20)
    append(dir, 20, 25)
    val content = "SELECT k, count(*) AS n, sum(v) AS s FROM t GROUP BY k ORDER BY k;"
    afterChange(content, typed(dir), (0, 0, 1)) {
      Thread.sleep(20)
      val replacement = parquetFiles(table(7)).head
      val target = parquetFiles(dir).head
      remove(target)
      Files.move(replacement, target)
    }
  }

  test("a schema change falls back to a full run") {
    val dir = table(20)
    spark.sql("DROP TABLE IF EXISTS result_cache_evolving")
    spark.sql(s"CREATE TABLE result_cache_evolving USING parquet LOCATION '$dir'")
    val content = "SELECT k, count(*) AS n, sum(v) AS s FROM result_cache_evolving GROUP BY k ORDER BY k;"
    afterChange(content, RunConfig(), (0, 0, 1)) {
      spark.sql("ALTER TABLE result_cache_evolving ADD COLUMNS (extra STRING)")
      spark.sql("INSERT INTO result_cache_evolving SELECT 100, 1, 'z', 'x'")
    }
    spark.sql("DROP TABLE result_cache_evolving")
  }

  test("an append past the driver-read bound falls back to a full run") {
    val dir = table(20)
    val content = "SELECT k, count(*) AS n, sum(v) AS s FROM t GROUP BY k ORDER BY k;"
    afterChange(content, typed(dir), (0, 0, 1)) {
      spark.range(0, 200000).selectExpr("id AS v", "id % 3 AS k", "sha2(CAST(id AS STRING), 256) AS tenant")
        .coalesce(1).write.mode("append").parquet(dir)
      assert(Files.size(parquetFiles(dir).last) > graft.interp.IncrementalAggregate.MaxDeltaBytes)
    }
  }

  test("a sum that overflows on merge falls back to a full run, which raises Spark's error") {
    def rows(dir: String, v: Long, n: Int): Unit =
      spark.range(0, n).selectExpr(s"${v}L AS v", "0L AS k", "'a' AS tenant")
        .coalesce(1).write.mode("append").parquet(dir)
    def fresh() = Files.createTempDirectory("result-cache-spec").resolve("t").toString
    val content = "SELECT count(*) AS n, sum(v) AS s FROM t WHERE k = 0;"
    val whole = fresh()
    rows(whole, Long.MaxValue - 10, 2)
    val e0 = intercept[Exception](Dashboard.run(spark, content, typed(whole)))
    assert(e0.getMessage.contains("ARITHMETIC_OVERFLOW"), e0.getMessage)
    val dir = fresh()
    rows(dir, Long.MaxValue - 10, 1)
    Dashboard.run(spark, content, typed(dir))
    rows(dir, 100, 1)
    val (i, m) = (cache.incremental.get, cache.misses.get)
    val e = intercept[Exception](Dashboard.run(spark, content, typed(dir)))
    assert(e.getMessage.contains("ARITHMETIC_OVERFLOW"), e.getMessage)
    assert((cache.incremental.get - i, cache.misses.get - m) == (0, 1))
  }

  test("an aggregate past the group bound runs in full every time") {
    val dir = Files.createTempDirectory("result-cache-spec").resolve("t").toString
    val groups = graft.interp.IncrementalAggregate.MaxGroups + 1
    spark.range(0, groups).selectExpr("id AS v", "id AS k", "'a' AS tenant").coalesce(1).write.parquet(dir)
    val content = "SELECT k, count(*) AS n FROM t GROUP BY k ORDER BY n DESC, k LIMIT 3;"
    val first = outcome(content, typed(dir))
    assert(first._3 == (0, 0, 1))
    assert(first._1 == recomputed(content, typed(dir)))
    afterChange(content, typed(dir), (0, 0, 1)) {
      spark.range(0, 3).selectExpr("id AS v", "id AS k", "'a' AS tenant")
        .coalesce(1).write.mode("append").parquet(dir)
    }
  }

  test("CREATE TEMP TABLE leaves nothing in the shared cache manager; its rows are unchanged") {
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    val body = "SELECT id, CAST(id AS INT) AS i, id / 3.0 AS d, timestamp_seconds(id * 3600) AS ts, " +
      "date_add(DATE '2024-01-01', CAST(id AS INT)) AS day, CAST(id AS STRING) AS s, " +
      "IF(id % 2 = 0, NULL, id) AS maybe, array(id, id + 1) AS xs FROM range(ROWS)"
    Seq(3, 30, 20000).foreach { n =>
      val content = s"CREATE TEMP TABLE hot AS ${body.replace("ROWS", n.toString)};\n" +
        "SELECT * FROM hot ORDER BY id LIMIT 50;"
      val rendered = Dashboard.run(spark, content).sections.head.queries.head.rows
      val direct = Dashboard.run(spark, body.replace("ROWS", n.toString) + " ORDER BY id LIMIT 50;")
        .sections.head.queries.head.rows
      assert(rendered == direct, s"$n rows")
      assert(cacheManager.isEmpty, s"after a $n-row temp table")
    }
    val other = Sessions.request(spark).sql("SELECT id FROM range(10)").queryExecution.withCachedData
    assert(other.collectFirst { case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r }.isEmpty)
  }

  test("a TEMP VIEW over a *_table name is a view: it sees a later append") {
    val dir = table(10)
    val cfg = RunConfig(prepare = ss =>
      ss.read.schema("v BIGINT, k BIGINT, tenant STRING").parquet(dir).createOrReplaceTempView("events_table"))
    val content = "CREATE TEMP VIEW v AS SELECT * FROM events_table;\nSELECT count(*) AS n FROM v;"
    assert(rowsOf(Dashboard.run(spark, content, cfg)) == Seq(Seq(Seq(10))))
    append(dir, 10, 13)
    assert(rowsOf(Dashboard.run(spark, content, cfg)) == Seq(Seq(Seq(13))))
  }

  // ---- the text-keyed front: a render, a change, the render again ----

  /** `body`'s result with the text hits it added. */
  private def textHitsOf[A](body: => A): (A, Long) = {
    val t = cache.textHits.get
    val a = body
    (a, cache.textHits.get - t)
  }

  /** A catalog table `name` in `db` over a fresh directory of `n` rows;
    * the directory. */
  private def catalogTable(name: String, n: Int, db: String = "default"): String = {
    val dir = table(n)
    spark.sql(s"DROP TABLE IF EXISTS $db.$name")
    spark.sql(s"CREATE TABLE $db.$name USING parquet LOCATION '$dir'")
    dir
  }

  /** Render `content` twice with `cfg`, apply `change`, render with
    * `after`: that render must equal one through a fresh, empty cache.
    * Its JSON and the text hits of the repeat render before the change. */
  private def textCase(content: String, cfg: RunConfig = RunConfig(), after: Option[RunConfig] = None)(
      change: => Unit): (String, Long) = {
    Dashboard.run(spark, content, cfg)
    val (_, before) = textHitsOf(Dashboard.run(spark, content, cfg))
    change
    val cfg2 = after.getOrElse(cfg)
    val json = Model.toJson(Dashboard.run(spark, content, cfg2))
    assert(json == recomputed(content, cfg2), content)
    (json, before)
  }

  test("text front: an unchanged catalog-table render is answered from text, hits counted once") {
    catalogTable("rc_text_plain", 12)
    val content = "SELECT 'Per key'::LABEL;\n" +
      "SELECT k, count(*) AS n FROM rc_text_plain GROUP BY k ORDER BY k;"
    val first = Model.toJson(Dashboard.run(spark, content))
    val ((second, hits, misses), text) = textHitsOf(counted(Model.toJson(Dashboard.run(spark, content))))
    assert((hits, misses, text) == (2, 0, 2))
    assert(second == first)
    spark.sql("DROP TABLE rc_text_plain")
  }

  test("text front: ALTER TABLE ADD COLUMNS is seen by the next SELECT *") {
    catalogTable("rc_text_alter", 5)
    val (json, before) = textCase("SELECT * FROM rc_text_alter ORDER BY v;")(
      spark.sql("ALTER TABLE rc_text_alter ADD COLUMNS (extra STRING)"))
    assert(before == 1)
    assert(json.contains("extra"), json)
    spark.sql("DROP TABLE rc_text_alter")
  }

  test("text front: DROP then CREATE of the same name with other rows") {
    catalogTable("rc_text_recreate", 5)
    val (_, before) = textCase("SELECT count(*) AS n, sum(v) AS s FROM rc_text_recreate;")(
      catalogTable("rc_text_recreate", 7))
    assert(before == 1)
    assert(rowsOf(Dashboard.run(spark, "SELECT count(*) AS n, sum(v) AS s FROM rc_text_recreate;")) ==
      Seq(Seq(Seq(7, 21))))
    spark.sql("DROP TABLE rc_text_recreate")
  }

  test("text front: CREATE OR REPLACE VIEW") {
    catalogTable("rc_text_view_t", 9)
    spark.sql("CREATE OR REPLACE VIEW rc_text_view AS SELECT v FROM rc_text_view_t WHERE k = 0")
    val content = "SELECT count(*) AS n, sum(v) AS s FROM rc_text_view;"
    val (_, before) = textCase(content)(
      spark.sql("CREATE OR REPLACE VIEW rc_text_view AS SELECT v FROM rc_text_view_t WHERE k = 1"))
    assert(before == 1)
    assert(rowsOf(Dashboard.run(spark, content)) == Seq(Seq(Seq(3, 12))))
    spark.sql("DROP VIEW rc_text_view")
    spark.sql("DROP TABLE rc_text_view_t")
  }

  test("text front: a prepare hook's temp view shadows the catalog table") {
    catalogTable("rc_text_shadow", 5)
    val content = "SELECT count(*) AS n FROM rc_text_shadow;"
    val shadow = RunConfig(prepare = ss => ss.range(3).selectExpr("id AS v").createOrReplaceTempView("rc_text_shadow"))
    val (_, before) = textCase(content, after = Some(shadow))(())
    assert(before == 1)
    assert(rowsOf(Dashboard.run(spark, content, shadow)) == Seq(Seq(Seq(3))))
    spark.sql("DROP TABLE rc_text_shadow")
  }

  test("text front: a global temp view replaced between renders") {
    spark.sql("CREATE OR REPLACE GLOBAL TEMP VIEW rc_text_gv AS SELECT 1 AS x")
    try {
      val content = "SELECT x FROM global_temp.rc_text_gv;"
      val (_, before) = textCase(content)(
        spark.sql("CREATE OR REPLACE GLOBAL TEMP VIEW rc_text_gv AS SELECT 2 AS x"))
      assert(before == 0, "a global temp view exists: no statement is answered from text")
      assert(rowsOf(Dashboard.run(spark, content)) == Seq(Seq(Seq(2))))
    } finally spark.catalog.dropGlobalTempView("rc_text_gv")
  }

  test("text front: CACHE TABLE, then the table gains a file") {
    val dir = catalogTable("rc_text_cached", 5)
    val content = "SELECT count(*) AS n FROM rc_text_cached;"
    try {
      val (_, before) = textCase(content) {
        spark.sql("CACHE TABLE rc_text_cached")
        append(dir, 5, 8)
      }
      assert(before == 1)
    } finally spark.sql("UNCACHE TABLE IF EXISTS rc_text_cached")
    spark.sql("DROP TABLE rc_text_cached")
  }

  test("text front: a glob path read that gains a file") {
    val dir = table(5)
    val content = s"SELECT count(*) AS n FROM parquet.`$dir/*.parquet`;"
    val (_, before) = textCase(content)(append(dir, 5, 9))
    assert(before == 0, "a path read gets no text entry")
    assert(rowsOf(Dashboard.run(spark, content)) == Seq(Seq(Seq(9))))
  }

  test("text front: a partitioned table that gains a partition") {
    spark.sql("DROP TABLE IF EXISTS rc_text_parts")
    spark.sql("CREATE TABLE rc_text_parts (v BIGINT, p INT) USING parquet PARTITIONED BY (p)")
    spark.sql("INSERT INTO rc_text_parts VALUES (1, 1), (2, 1)")
    val content = "SELECT p, count(*) AS n FROM rc_text_parts GROUP BY p ORDER BY p;"
    val (_, before) = textCase(content)(spark.sql("INSERT INTO rc_text_parts VALUES (3, 2)"))
    assert(before == 0, "a partitioned table gets no text entry")
    assert(rowsOf(Dashboard.run(spark, content)) == Seq(Seq(Seq(1, 2), Seq(2, 1))))
    spark.sql("DROP TABLE rc_text_parts")
  }

  test("text front: a task that runs USE other_db reads that database's table") {
    spark.sql("CREATE DATABASE IF NOT EXISTS rc_text_db")
    catalogTable("rc_text_use", 5)
    catalogTable("rc_text_use", 7, db = "rc_text_db")
    val plain = "SELECT count(*) AS n FROM rc_text_use;"
    def counts(task: String): Seq[String] = {
      val r = graft.tasks.Tasks.executeTask(spark, task)
      assert(r.success, r)
      r.queries.flatMap(_.resultRows).flatten.map(String.valueOf)
    }
    assert(counts(plain) == Seq("5"))
    val (again, text) = textHitsOf(counts(plain))
    assert((again, text) == (Seq("5"), 1))
    assert(counts("USE rc_text_db;\n" + plain) == Seq("7"))
    assert(counts(plain) == Seq("5"))
    spark.sql("DROP TABLE rc_text_db.rc_text_use")
    spark.sql("DROP TABLE rc_text_use")
  }

  test("text front: a spark.sql.ansi.enabled change") {
    catalogTable("rc_text_ansi", 3)
    val content = "SELECT CAST(tenant AS INT) AS x FROM rc_text_ansi ORDER BY v;"
    def ansi(on: Boolean) = RunConfig(prepare = _.conf.set("spark.sql.ansi.enabled", on.toString))
    Dashboard.run(spark, content, ansi(false))
    val (off, text) = textHitsOf(rowsOf(Dashboard.run(spark, content, ansi(false))))
    assert((off, text) == (Seq(Seq(Seq(null), Seq(null), Seq(null))), 1))
    // ANSI casts fail on 'a' in a fresh session, and so here
    val fresh = intercept[Exception](recomputed(content, ansi(true)))
    val here = intercept[Exception](Dashboard.run(spark, content, ansi(true)))
    assert(here.getClass == fresh.getClass, here)
    spark.sql("DROP TABLE rc_text_ansi")
  }

  test("text front: two JWT claims each get their own rows") {
    catalogTable("rc_text_jwt", 30)
    val content = "SELECT getvariable('tenant') AS who, count(*) AS n, sum(v) AS s " +
      "FROM rc_text_jwt WHERE tenant = getvariable('tenant');"
    def claim(t: String) = RunConfig(variables = Map("tenant" -> t))
    val (b, before) = textCase(content, claim("a"), Some(claim("b")))(())
    assert(before == 1)
    assert(rowsOf(Dashboard.run(spark, content, claim("b"))) == Seq(Seq(Seq("b", 10, 145))))
    val (a, text) = textHitsOf(Model.toJson(Dashboard.run(spark, content, claim("a"))))
    assert(text == 1)
    assert(a == recomputed(content, claim("a")) && a != b)
    spark.sql("DROP TABLE rc_text_jwt")
  }

  test("text front: an append to a catalog table is still answered incrementally") {
    val dir = catalogTable("rc_text_append", 10)
    val content = "SELECT k, count(*) AS n, sum(v) AS s FROM rc_text_append GROUP BY k ORDER BY k;"
    Dashboard.run(spark, content)
    afterChange(content, RunConfig(), (0, 1, 0))(append(dir, 10, 12))
    spark.sql("DROP TABLE rc_text_append")
  }

  test("text front: two tasks that DECLARE the same variable with other values") {
    catalogTable("rc_text_var", 10)
    val select = "SELECT count(*) AS n FROM rc_text_var WHERE v > m;"
    def task(m: Int) = s"DECLARE VARIABLE m BIGINT DEFAULT $m;\n$select"
    def counts(content: String): Seq[String] = {
      val r = graft.tasks.Tasks.executeTask(spark, content)
      assert(r.success, r)
      r.queries.flatMap(_.resultRows).flatten.map(String.valueOf)
    }
    def fresh(content: String): Seq[String] =
      Statements.request(spark, cache = new ResultCache(64L << 20)) { req =>
        Statements.split(content).toOption.get.filter(_.nonEmpty).map(req.query).last._2
          .flatMap(_.toSeq).map(String.valueOf)
      }
    for (m <- Seq(2, 7, 2)) {
      val (n, text) = textHitsOf(counts(task(m)))
      assert(n == fresh(task(m)), s"m = $m")
      assert(n == Seq(String.valueOf(9 - m)), s"m = $m")
      assert(text == 0, "a session holding a variable answers nothing from text")
    }
    spark.sql("DROP TABLE rc_text_var")
  }
}
