package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** The one place a per-request Spark session is made — the Spark analog
  * of shaper's fresh DuckDB connection per render (ref main.go:961-962).
  *
  * Each request session gets its own temp-view namespace, function
  * registry and SQL conf, so nothing a request defines is seen by the
  * next one.
  *
  * What it shares with every other request is the executor class loader.
  * On Spark 4.x a `newSession()` has its own session UUID, and while
  * `spark.sql.artifact.isolation.enabled` is on (the default) the
  * executor builds a class loader per UUID (`Executor.isolatedSessionCache`).
  * `CodeGenerator`'s compile cache is keyed by class loader and source, so
  * every request would compile its whole-stage-codegen classes again with
  * Janino inside its tasks. Turning isolation off on the child makes its
  * `JobArtifactState` null: its tasks run in the executor's default class
  * loader and reuse code compiled by earlier requests. The only thing
  * given up is per-session jar/file/archive artifacts, which no request
  * path adds.
  *
  * Do not pool or reuse request sessions instead: a temp view or
  * JWT-derived state leaking between tenants is a security bug, and the
  * isolation itself is cheap — the recompilation was the cost.
  */
object Sessions {

  private val ArtifactIsolation = "spark.sql.artifact.isolation.enabled"

  /** A fresh session for one request. The conf is set before anything
    * touches the session's `ArtifactManager`, which reads it once, on
    * first use (a lazy val), and keeps that answer for its lifetime. */
  def request(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.conf.set(ArtifactIsolation, "false")
    s
  }

  /** Generated-code classes Janino has compiled in this JVM so far (driver
    * and, under `local[N]`, executors too). Steady-state requests add
    * nothing; exported as `graft_codegen_compiles_total` on `/metrics`. */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
