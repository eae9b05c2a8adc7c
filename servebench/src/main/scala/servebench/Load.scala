package servebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Attempted, failed and latency samples of one kind of operation. A
  * failed operation's latency enters as +∞: it counts against every
  * latency limit and can never pass as a fast sample. */
final class Tally(val name: String) {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val samples = new ConcurrentLinkedQueue[java.lang.Double]
  private val reported = new AtomicLong

  def record(ms: Double, ok: Boolean, why: => String = ""): Unit = {
    attempted.incrementAndGet()
    if (ok) samples.add(ms)
    else {
      failed.incrementAndGet()
      samples.add(Double.PositiveInfinity)
      if (reported.incrementAndGet() <= 5) System.err.println(s"[servebench] $name failed: $why")
    }
  }

  def latencies: Seq[Double] = samples.asScala.map(_.doubleValue).toSeq
  def summary: Stats.Summary = Stats.summarize(latencies)
}

/** Closed-loop clients: each sends its next request only after the
  * previous reply, since dashboard viewers and ingest producers wait. */
object Load {

  /** Serializes requests across all clients when tracing, so each
    * request's spans and Spark events belong to it alone. The lock is
    * fair, so clients take turns instead of one starving the others. */
  final class Gate(exclusive: Boolean) {
    private val lock = new java.util.concurrent.locks.ReentrantLock(true)
    def apply[T](f: => T): T =
      if (!exclusive) f
      else { lock.lock(); try f finally lock.unlock() }
  }

  /** Run `n` client threads; `step(c, i)` is client c's i-th operation,
    * made while `until(c, i)` is false. Rethrows the first thread failure. */
  def clients(n: Int, until: (Int, Int) => Boolean)(step: (Int, Int) => Unit): Unit = {
    val errors = new ConcurrentLinkedQueue[Throwable]
    val threads = (0 until n).map { c =>
      val t = new Thread(() => {
        try {
          var i = 0
          while (!until(c, i)) { step(c, i); i += 1 }
        } catch { case e: Throwable => errors.add(e) }
      }, s"servebench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }

  /** Render a view, check every widget's rows against the expected ones. */
  def render(client: Client, view: View, token: String,
      expected: Map[String, Seq[Seq[Seq[Any]]]], tally: Tally): Reply = {
    val r = client.get(view.path, token)
    val want = expected(view.key)
    val ok = r.status == 200 && {
      val got = try Json.widgetRows(r.body) catch { case _: Exception => Nil }
      got.length == want.length && got.zip(want).forall { case (g, w) => Json.sameRows(g, w) }
    }
    tally.record(r.ms, ok, s"${view.key} -> ${r.status} ${r.body.take(300)}")
    r
  }
}
