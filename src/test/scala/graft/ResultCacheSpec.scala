package graft

import graft.interp.{Dashboard, ResultCache}
import graft.interp.Dashboard.RunConfig
import graft.render.Model
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The interpreter's result cache (`interp.ResultCache`): a render reuses
  * a statement's rows only while its optimized plan, output schema, SQL
  * conf and input files are unchanged, and never reuses a result that a
  * fresh run could answer differently. Counts are deltas of the shared
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

  test("an appended file misses and the render returns the new rows") {
    val dir = table(10)
    val content = "SELECT count(*) AS n, sum(v) AS s FROM t;"
    assert(rowsOf(Dashboard.run(spark, content, over(dir))) == Seq(Seq(Seq(10, 45))))
    append(dir, 10, 12)
    val (r, hits, misses) = counted(Dashboard.run(spark, content, over(dir)))
    assert((hits, misses) == (0, 1))
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

  test("a statement over a CREATE TEMP TABLE (an in-memory relation) is not cached") {
    val dir = table(20)
    val content = "CREATE TEMP TABLE hot AS SELECT * FROM t WHERE k = 1;\n" +
      "SELECT count(*) AS n FROM hot;"
    val (first, h1, m1) = counted(rowsOf(Dashboard.run(spark, content, over(dir))))
    assert(first == Seq(Seq(Seq(7))))
    append(dir, 20, 23)
    val (second, h2, m2) = counted(rowsOf(Dashboard.run(spark, content, over(dir))))
    assert((h1, m1, h2, m2) == (0, 0, 0, 0))
    assert(second == Seq(Seq(Seq(8))))
    spark.catalog.clearCache()
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
}
