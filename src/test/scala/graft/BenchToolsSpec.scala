package graft

import org.scalatest.funsuite.AnyFunSuite

/** The dev mains' output guards: the bench line's `sf` token, its
  * survival of a failing session stop, and JobProfile's pass reporting
  * when the listener drain times out. */
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

  test("JobProfile.timedPass: a drain timeout keeps the pass, a query failure does not") {
    val p = JobProfile.timedPass(() => 42L,
      () => throw new java.util.concurrent.TimeoutException("slow bus"))
    assert(p.rows == 42L && !p.drained && p.wallS >= 0)
    assert(JobProfile.timedPass(() => 7L, () => ()).drained)
    intercept[IllegalStateException] {
      JobProfile.timedPass(() => throw new IllegalStateException("query failed"), () => ())
    }
  }
}
