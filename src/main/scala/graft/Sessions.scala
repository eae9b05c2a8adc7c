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
  * A request session is made with no session state (SQL conf, catalog,
  * function registry, analyzer): Spark builds it on the session's first
  * use of any of them, at a cost larger than the rest of a text hit. A
  * request whose every statement is answered from the result cache's
  * text uses none of them and never builds it; its text keys use the
  * conf, catalog and namespace that one built request session of the
  * same root read once ([[textParts]]).
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

  /** A fresh session for one request, with artifact isolation off. The
    * setting is one of the session's initial options, which its SQL conf
    * starts from when its state is built, so making the session builds
    * no state and a request answered wholly from
    * [[interp.ResultCache]]'s text front never builds it. The state is
    * built on first need: a side effect, a compile, or a text lookup
    * that does not answer. The session's `ArtifactManager`, a lazy val,
    * reads the setting from that conf. */
  def request(spark: SparkSession): SparkSession = {
    val options = SessionHooks.initialOptions(spark) + (ArtifactIsolation -> "false")
    rooted(spark, options)
    SessionHooks.newSession(spark, options)
  }

  /** What gives a statement's text its meaning in a session: the SQL
    * conf, and the current catalog and namespace that resolve its
    * unqualified names. */
  final case class TextParts(conf: Map[String, String], catalog: String, namespace: String)

  private def textPartsOf(s: SparkSession): TextParts =
    TextParts(s.sessionState.conf.getAllConfs, s.catalog.currentCatalog(), s.catalog.currentDatabase)

  /** `s`'s [[TextParts]]. A request session whose state is not built
    * gets those its root's request sessions start with, read once from
    * one whose state was built, and builds none; any other session, or
    * one made with other initial options, reads its own. */
  def textParts(s: SparkSession): TextParts =
    if (SessionHooks.stateBuilt(s)) textPartsOf(s)
    else synchronized(Option(parts.get(s.sharedState)))
      .collect { case (options, p) if options == SessionHooks.initialOptions(s) => p }
      .getOrElse(textPartsOf(s))

  /** Per set of shared extensions, the functions a session born from
    * them holds; weak, so a stopped root's state is not pinned. */
  private val born = new java.util.WeakHashMap[SparkSessionExtensions, Map[FunctionIdentifier, ExpressionInfo]]
  /** Per shared state, the initial options of its first request session
    * and the text parts of a request session made with them: its SQL
    * conf is the shared Spark conf with those options over it. */
  private val parts = new java.util.WeakHashMap[AnyRef, (Map[String, String], TextParts)]
  private val listened = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[AnyRef, java.lang.Boolean])
  private val generation = new AtomicLong
  private val statesBuilt = new AtomicLong

  /** Once per root: the functions its new sessions are born with, the
    * text parts of a request session made with `options`, and a listener
    * on its shared catalog. */
  private def rooted(spark: SparkSession, options: Map[String, String]): Unit = synchronized {
    val ext = SessionHooks.extensions(spark)
    if (!born.containsKey(ext)) born.put(ext, SessionHooks.bornFunctions(ext))
    if (!parts.containsKey(spark.sharedState))
      parts.put(spark.sharedState, options -> textPartsOf(SessionHooks.newSession(spark, options)))
    if (listened.add(spark.sharedState.externalCatalog))
      SessionHooks.onCatalogEvent(spark)(_ => generation.incrementAndGet())
  }

  /** Ends request session `s`: counts it in [[requestStatesBuilt]] when
    * its state was built. */
  def ended(s: SparkSession): Unit = if (SessionHooks.stateBuilt(s)) statesBuilt.incrementAndGet()

  /** Ended request sessions whose state was built; a request answered
    * wholly from text adds none. Exported as
    * `graft_request_session_states_total` on `/metrics`. */
  def requestStatesBuilt: Long = statesBuilt.get

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
