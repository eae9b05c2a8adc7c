package servebench

import com.sun.net.httpserver.HttpServer
import org.scalatest.funsuite.AnyFunSuite

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

class BenchSpec extends AnyFunSuite {

  test("p90 is reported only when at least 10 samples lie beyond it") {
    val short = Stats.summarize((1 to 99).map(_.toDouble))
    assert(short.p90.isEmpty)
    assert(short.p90Flag.contains("9 of 99"))
    val enough = Stats.summarize((1 to 100).map(_.toDouble))
    assert(enough.p90.contains(Stats.quantile((1 to 100).map(_.toDouble).toIndexedSeq, 0.9)))
    assert(enough.p50 == 50.5)
  }

  test("failed operations enter the latency sample as +inf, never as fast samples") {
    val t = new Tally("op")
    t.record(5.0, ok = true)
    t.record(1.0, ok = false)
    t.record(6.0, ok = true)
    assert(t.attempted.get == 3 && t.failed.get == 1)
    assert(t.summary.p50 == 6.0)
  }

  private def withServer(status: Int, body: String)(f: Int => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", ex => {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(status, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    try f(server.getAddress.getPort) finally server.stop(0)
  }

  private val view = View(Dash("d", ""), None, Map.empty, Nil)
  private def render(body: String) =
    s"""{"name":"","sections":[{"type":"content","title":null,"queries":[{"render":{"type":"table"},"columns":[],"rows":$body}]}]}"""
  private val expected = Map(view.key -> Seq(Seq(Seq[Any](1L, "a"))))

  test("a refused request counts as failed") {
    val port = { val s = new java.net.ServerSocket(0); val p = s.getLocalPort; s.close(); p }
    val t = new Tally("render")
    val r = Load.render(new Client(port), view, "", expected, t)
    assert(r.status == -1)
    assert(t.failed.get == 1)
  }

  test("an errored request counts as failed") {
    withServer(500, """{"error":"boom"}""") { port =>
      val t = new Tally("render")
      Load.render(new Client(port), view, "", expected, t)
      assert(t.failed.get == 1)
    }
  }

  test("a wrong output counts as failed, the right one passes") {
    withServer(200, render("""[[2,"a"]]""")) { port =>
      val t = new Tally("render")
      Load.render(new Client(port), view, "", expected, t)
      assert(t.failed.get == 1)
    }
    withServer(200, render("""[[1,"a"]]""")) { port =>
      val t = new Tally("render")
      Load.render(new Client(port), view, "", expected, t)
      assert(t.attempted.get == 1 && t.failed.get == 0)
    }
  }

  test("the same seed gives the same requests and payloads") {
    val views = Dashboards.lightViews
    val groups = views.map(_.dash).distinct.map(d => views.filter(_.dash == d).toIndexedSeq).toIndexedSeq
    def first(seed: Long) = (0 until 2).map(c => Plan.requests(seed, 0, c, groups).take(42).toList)
    assert(first(7) == first(7))
    assert(first(7) != first(8))
    // every dashboard once per cycle
    assert(first(7).forall(_.grouped(groups.length).forall(_.map(_.dash.id).distinct.size == groups.length)))
    assert(Plan.batch(7, 3, 40) == Plan.batch(7, 3, 40))
    assert(Plan.batch(7, 3, 40) != Plan.batch(8, 3, 40))
    val late = Plan.batch(7, 39, 40)._1
    assert(Seq("region", "flag", "score").forall(f => late.contains("\"" + f + "\"")))
    assert(!Plan.batch(7, 0, 40)._1.contains("\"region\""))
  }

  test("self time is a span's duration minus what its children cover") {
    val spans = Seq(
      Span(0, "root", "api", 0, 100, -1, 0),
      Span(1, "a", "interp", 10, 40, 0, 0),
      Span(2, "b", "spark", 30, 70, 0, 0),
      Span(3, "c", "spark", 15, 20, 1, 0),
      Span(4, "d", "spark", 60, 120, 2, 0))
    val self = Spans.selfTimes(spans)
    assert(self == Map(0 -> 40L, 1 -> 25L, 2 -> 30L, 3 -> 5L, 4 -> 60L))
    // without overlapping siblings the self times add up to the root
    val tree = Seq(
      Span(0, "root", "api", 0, 100, -1, 0),
      Span(1, "a", "interp", 10, 40, 0, 0),
      Span(2, "b", "spark", 40, 70, 0, 0),
      Span(3, "c", "spark", 15, 20, 1, 0))
    assert(Spans.selfTimes(tree).values.sum == 100L)
  }

  test("the curate output hash ignores row order and float noise, not values") {
    import org.apache.spark.sql.Row
    val rows = Seq(Row(1L, "a", 0.1 + 0.2), Row(2L, "b", 1.5), Row(3L, null, Seq(1.0, 2.0)))
    assert(Curate.hash(rows) == Curate.hash(rows.reverse))
    assert(Curate.hash(rows) == Curate.hash(rows.updated(0, Row(1L, "a", 0.3))))
    assert(Curate.hash(rows) != Curate.hash(rows.updated(1, Row(2L, "b", 1.6))))
    assert(Curate.hash(rows) != Curate.hash(rows.take(2)))
  }
}
