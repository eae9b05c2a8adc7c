package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.graftsession.SessionHooks

import java.util.concurrent.atomic.AtomicLong

/** The one place a Spark session is made: the root session every main
  * builds at start-up, and the per-request session cut from it — the
  * Spark analog of shaper's fresh DuckDB connection per render (ref
  * main.go:961-962).
  *
  * Each request session gets its own temp-view namespace, function
  * registry and SQL conf, so nothing a request defines is seen by the
  * next one. It is born with the engine's functions and rules: Spark's
  * builder applies [[GraftExtensions]], a `SparkSessionExtensionsProvider`,
  * to the extensions of every root session, which every `newSession()`
  * shares, and builds a new session's registry as the builtins plus the
  * injected functions. A request then registers nothing. Building the
  * first root also puts the engine's `len` into Spark's builtin registry,
  * which is shared by the whole JVM, so every session made afterwards
  * resolves `len` to it: on strings and binary it is Spark's `len`
  * (`SessionsSpec`), and on arrays and maps it counts elements where
  * Spark's raises an analysis error.
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

  /** The process's root session: `local[SPARK_GRAFT_CPUS]` (default 4)
    * with one shuffle partition per core, AQE on, UTC session time, no
    * UI, and WARN logging. Every main starts from this one, so the
    * timings and outputs of Bench, Verify, Serve and the dev mains are
    * taken under the same settings. */
  def root(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A fresh session for one request. The conf is set before anything
    * touches the session's `ArtifactManager`, which reads it once, on
    * first use (a lazy val), and keeps that answer for its lifetime. */
  def request(spark: SparkSession): SparkSession = {
    rooted(spark)
    val s = spark.newSession()
    s.conf.set(ArtifactIsolation, "false")
    s
  }

  /** Per set of shared extensions, the functions a session born from
    * them holds; weak, so a stopped root's state is not pinned. */
  private val born = new java.util.WeakHashMap[SparkSessionExtensions, Map[FunctionIdentifier, ExpressionInfo]]
  private val listened = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[AnyRef, java.lang.Boolean])
  private val generation = new AtomicLong

  /** Once per root: the functions its new sessions are born with and a
    * listener on its shared catalog. */
  private def rooted(spark: SparkSession): Unit = synchronized {
    val ext = SessionHooks.extensions(spark)
    if (!born.containsKey(ext)) born.put(ext, SessionHooks.bornFunctions(ext))
    if (listened.add(spark.sharedState.externalCatalog))
      SessionHooks.onCatalogEvent(spark)(_ => generation.incrementAndGet())
  }

  /** Changes to any request root's catalog so far: databases, tables,
    * views and functions created, dropped, renamed or altered. A change
    * is counted before the statement that made it returns. */
  def catalogGeneration: Long = generation.get

  /** Whether `s` holds exactly the functions it was born with: a function
    * added or replaced since has a new `ExpressionInfo`. */
  def holdsBornFunctions(s: SparkSession): Boolean = {
    val expected = synchronized(born.get(SessionHooks.extensions(s)))
    val registry = s.sessionState.functionRegistry
    val ids = registry.listFunction()
    expected != null && ids.size == expected.size &&
      ids.forall(id => registry.lookupFunction(id).exists(info => expected.get(id).exists(_ eq info)))
  }

  /** Generated-code classes Janino has compiled in this JVM so far (driver
    * and, under `local[N]`, executors too). Steady-state requests add
    * nothing; exported as `graft_codegen_compiles_total` on `/metrics`. */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
