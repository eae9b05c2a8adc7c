package servebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One benchmark run: `--workload W --seed N --seconds T --trace 0|1
  * --cpus C --workdir DIR --out FILE`. Prints a report to stdout and
  * writes the result object to `--out`. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      cpus: Int, workDir: String, out: String, traceOut: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("cpus").toInt, need("workdir"), need("out"), m.getOrElse("trace-out", "trace.json"))
  }

  /** A metric as the result object carries it. */
  final case class Metric(name: String, value: Double, unit: String)

  /** Per-layer metrics measured on every workload; the traced run's
    * result object carries exactly these. */
  val PerLayer: Seq[String] = Seq(
    "api.requests", "api.failed", "api.self_ms", "api.response_kb", "auth.verify_us",
    "interp.session_ms", "interp.statements", "interp.spark_actions", "interp.self_ms",
    "sqlfront.rewrite_us", "spark.analysis_ms", "spark.optimization_ms", "spark.planning_ms",
    "spark.exec_ms", "spark.jobs", "spark.stages", "spark.tasks", "spark.task_ms",
    "spark.task_cpu_ms", "spark.task_wait_ms", "spark.scan_mb", "spark.shuffle_mb",
    "spark.rows_read_per_row_out", "render.typing_ms", "render.json_ms", "jvm.gc_ms", "jvm.gc_count") ++
    Curate.Entries.flatMap(e => Seq("wall_s", "jobs", "task_ms").map(m => s"curate.$e.$m"))

  def unitOf(name: String): String =
    if (name.endsWith("_ms")) "ms" else if (name.endsWith("_us")) "us" else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB" else if (name.endsWith("_kb")) "KB"
    else if (name.endsWith("_per_row_out") || name.endsWith("_amp") || name.endsWith("_per_batch")) "ratio"
    else "count"

  final class Result {
    val metrics = mutable.ArrayBuffer.empty[Metric]
    var layers = Map.empty[String, Double]
    val tallies = mutable.ArrayBuffer.empty[Tally]
    var extraFailed = 0L
    var extraAttempted = 0L
    /** Writes the traced run's span trees and per-layer table. */
    var writeTrace: () => Unit = () => ()
    def add(name: String, value: Double, unit: String): Unit = metrics += Metric(name, value, unit)
    def attempted: Long = tallies.map(_.attempted.get).sum + extraAttempted
    def failed: Long = tallies.map(_.failed.get).sum + extraFailed
  }

  /** Exits explicitly: a server thread left behind by a failure must
    * not keep the JVM alive past the run. */
  def main(argv: Array[String]): Unit = {
    val code = try { run(parse(argv)); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  def run(a: Args): Unit = {
    val warehouse = Paths.get(a.workDir, "warehouse").toAbsolutePath.toString
    val setupStart = System.nanoTime()
    val spark = Setup.session(a.cpus, warehouse, Paths.get(a.workDir, "spark-local").toAbsolutePath.toString)
    val result = try {
      val r = a.workload match {
        case "dash_light" => Serving.dashboards(spark, a, setupStart, Dashboards.lightViews)
        case "ingest_mix" => IngestMix.run(spark, a, setupStart)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      if (a.trace) Curate.run(spark, a.workDir, r)
      r.writeTrace()
      r
    } finally spark.stop()
    report(a, result)
  }

  private def report(a: Args, r: Result): Unit = {
    r.metrics.foreach(m => println(f"${m.name}%-28s ${m.value}%14.4f ${m.unit}"))
    val ratio = r.failed.toDouble / math.max(r.attempted, 1L)
    println(f"${"ops_failed_ratio"}%-28s $ratio%14.4f ratio (${r.failed} of ${r.attempted})")
    r.layers.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"$k%-28s $v%14.4f ${unitOf(k)}") }
    val shown = if (a.trace) PerLayer.map(k => Metric(k, r.layers(k), unitOf(k))) else r.metrics
    shown.find(m => !java.lang.Double.isFinite(m.value)).foreach(m =>
      throw new IllegalStateException(s"${m.name} was not measured (${m.value})"))
    val metrics = shown.map(m => s"${Json.str(m.name)}: {\"value\": ${m.value}, \"unit\": ${Json.str(m.unit)}}")
    val json = s"""{"correct": ${r.failed == 0}, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""metrics": {${metrics.mkString(", ")}}}"""
    Files.write(Paths.get(a.out), json.getBytes(StandardCharsets.UTF_8))
  }
}
