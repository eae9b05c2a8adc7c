package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The dev mains' output guards: the bench line's `sf` token, its
  * survival of a failing session stop, the shared measuring protocol,
  * Profile's pass reporting when the listener drain times out, Verify's
  * per-entry output, and the one place a root session is built. */
class BenchToolsSpec extends AnyFunSuite {

  test("Bench.sfJson: a bare number only for sfN / sfN.N without a leading zero") {
    Seq("sf0.1" -> "0.1", "sf0.001" -> "0.001", "sf1" -> "1", "sf10" -> "10",
      "sf2.5" -> "2.5").foreach { case (dir, json) => assert(Bench.sfJson(dir) == json, dir) }
    Seq("sf01", "sf1.", "sf1.2.3", "sf.", "sf.5", "sf", "sf-1", "tiny").foreach { dir =>
      assert(Bench.sfJson(dir) == "\"" + dir + "\"", dir)
    }
  }

  test("Bench.stopThenEmit: a throwing stop still emits the line, after the stop") {
    val events = collection.mutable.ArrayBuffer.empty[String]
    Bench.stopThenEmit(() => { events += "stop"; throw new IllegalStateException("boom") },
      line => events += line, "{\"metric\":\"total\"}")
    assert(events == Seq("stop", "{\"metric\":\"total\"}"))
  }

  private def ok(s: Double, rows: Long) = Bench.Pass(s, scala.util.Success(rows))
  private def failed(s: Double) = Bench.Pass(s, scala.util.Failure(new IllegalStateException("x")))

  test("Bench.best: the fastest successful pass; a fast failed pass never wins") {
    assert(Bench.best(Seq(ok(2.0, 5), ok(1.5, 5))) == ok(1.5, 5))
    val b = Bench.best(Seq(failed(0.01), ok(3.0, 7), failed(0.02)))
    assert(b.ok && b.seconds == 3.0 && b.rows.get == 7L)
  }

  test("Bench.best: when every pass fails, the slowest is reported, as a failure") {
    val b = Bench.best(Seq(failed(0.5), failed(2.0), failed(1.0)))
    assert(!b.ok && b.seconds == 2.0)
  }

  test("Bench.measure: one untimed pass, then two timed passes; a throw is a failed pass") {
    var calls = 0
    val passes = Bench.measure { () =>
      calls += 1
      if (calls == 2) throw new IllegalStateException("first timed pass fails")
      Thread.sleep(20); calls.toLong
    }
    assert(calls == 3)
    assert(passes.map(_.ok) == Seq(false, true))
    val b = Bench.best(passes)
    assert(b.ok && b.rows.get == 3L && b.seconds >= 0.02)
    // an untimed pass that throws is not rethrown and is not reported
    var n = 0
    assert(Bench.measure { () => n += 1; if (n == 1) sys.error("warm"); 1L }.forall(_.ok))
  }

  test("Profile.timedPass: a drain timeout keeps the pass, a query failure does not") {
    val p = Profile.timedPass(() => 42L,
      () => throw new java.util.concurrent.TimeoutException("slow bus"))
    assert(p.rows == 42L && !p.drained && p.wallS >= 0)
    assert(Profile.timedPass(() => 7L, () => ()).drained)
    intercept[IllegalStateException] {
      Profile.timedPass(() => throw new IllegalStateException("query failed"), () => ())
    }
  }

  test("Verify.dump: a failing entry leaves no output, not the previous run's") {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val out = Files.createTempDirectory("verify-dump")
    val stale = out.resolve("broken")
    Files.createDirectories(stale)
    Files.writeString(stale.resolve("part-00000.parquet"), "a previous run's output")
    Verify.dump(spark, "unused", Seq(
      "good" -> ((s: SparkSession, _: String) => s.range(3).toDF("id")),
      "broken" -> ((_: SparkSession, _: String) => sys.error("analysis failed"))), out.toString)
    assert(!Files.exists(stale))
    assert(spark.read.parquet(out.resolve("good").toString).count() == 3)
  }

  test("only graft.Sessions builds a SparkSession in main code") {
    val root = Paths.get("src/main/scala")
    val builders = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(Paths.get("graft/Sessions.scala")))
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(root.relativize(_: Path).toString).toSeq.sorted
    assert(Files.isRegularFile(root.resolve("graft/Sessions.scala")))
    assert(builders.isEmpty, s"build the session through Sessions.root(): $builders")
  }

  test("engine functions and rules reach a session only through GraftExtensions") {
    val root = Paths.get("src/main/scala")
    // GraftExtensions itself and the three function forwarders kept for
    // callers outside main code
    val forwarders = Set("graft/GraftExtensions.scala", "graft/types/ShaperTypes.scala",
      "graft/exprs/Boxplot.scala", "graft/exprs/Len.scala")
    val engine = Set("GraftExtensions", "ShaperTypes") ++ GraftExtensions.functions
      .map(_._2.getClassName.split('.').last.takeWhile(_ != '$'))
    val register = """\b(\w+)\.register\(""".r
    val install = """extraOptimizations\s*=[^=]|\.inject\w+\(""".r
    val offenders = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p: Path).toString -> Files.readString(p))
      .flatMap { case (file, text) =>
        val calls = register.findAllMatchIn(text).map(_.group(1)).filter(engine)
          .filterNot(o => forwarders(file) && o == "GraftExtensions")
        val installs = if (file == "graft/GraftExtensions.scala") Iterator.empty
          else install.findAllIn(text)
        (calls ++ installs).map(c => s"$file: $c")
      }.toSeq.sorted
    assert(engine.contains("CosineSim") && engine.contains("Boxplot"), engine)
    assert(offenders.isEmpty, s"sessions are born with the engine; nothing registers: $offenders")
  }
}
