package servebench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration
import scala.jdk.CollectionConverters._

/** One reply as the client saw it. `status` is -1 when the request never
  * got a reply (refused connection, timeout); times are `System.nanoTime`. */
final case class Reply(status: Int, body: String, sentNs: Long, headersNs: Long, doneNs: Long) {
  def ms: Double = (doneNs - sentNs) / 1e6
}

/** A blocking loopback HTTP client; one per client thread, so each
  * closed-loop client waits for its own reply before sending again. */
final class Client(port: Int, host: String = "127.0.0.1") {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(5))
    .build()

  def get(path: String, token: String): Reply =
    send(HttpRequest.newBuilder(uri(path)).GET(), token)

  def post(path: String, body: String, token: String): Reply =
    send(HttpRequest.newBuilder(uri(path))
      .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8)), token)

  private def uri(path: String) = URI.create(s"http://$host:$port$path")

  private def send(b: HttpRequest.Builder, token: String): Reply = {
    if (token.nonEmpty) b.header("Authorization", s"Bearer $token")
    b.timeout(Duration.ofSeconds(120))
    val sent = System.nanoTime()
    @volatile var headers = 0L
    // the server sends headers only once the whole body is built, so
    // their arrival marks the end of in-server work
    val handler: HttpResponse.BodyHandler[String] = info => {
      headers = System.nanoTime()
      HttpResponse.BodySubscribers.ofString(StandardCharsets.UTF_8)
    }
    try {
      val r = http.send(b.build(), handler)
      Reply(r.statusCode(), r.body(), sent, headers, System.nanoTime())
    } catch {
      case e: java.io.IOException =>
        val now = System.nanoTime()
        Reply(-1, String.valueOf(e), sent, now, now)
    }
  }
}

object Json {
  val mapper = new ObjectMapper()

  def str(s: String): String = mapper.writeValueAsString(s)

  def parse(s: String): JsonNode = mapper.readTree(s)

  def value(n: JsonNode): Any =
    if (n == null || n.isNull) null
    else if (n.isIntegralNumber) n.asLong
    else if (n.isNumber) n.asDouble
    else if (n.isBoolean) n.asBoolean
    else n.asText

  /** Each widget's rows of a render response, in statement order. */
  def widgetRows(body: String): Seq[Seq[Seq[Any]]] =
    parse(body).get("sections").elements().asScala.toSeq.flatMap { s =>
      s.get("queries").elements().asScala.map { q =>
        q.get("rows").elements().asScala.map(_.elements().asScala.map(value).toSeq).toSeq
      }
    }

  /** Numbers compare to a relative 1e-9: float sums over a shuffle may
    * add in a different order. Everything else compares exactly. */
  def sameCell(got: Any, want: Any): Boolean = (got, want) match {
    case (a: Number, b: Number) =>
      val (x, y) = (a.doubleValue, b.doubleValue)
      x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case (a, b) => a == b
  }

  def sameRows(got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Boolean =
    got.length == want.length && got.zip(want).forall { case (g, w) =>
      g.length == w.length && g.zip(w).forall { case (a, b) => sameCell(a, b) }
    }
}
