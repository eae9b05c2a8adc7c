package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The one way the engine's SQL surface reaches a session. Injects the
  * 48 shaper custom-type functions (the `::TYPE` targets produced by
  * graft.sqlfront.Dialect), their optimizer rule
  * (graft.plans.ShaperTagRules), the codegen'd natives, `len`, and the
  * `BOXPLOT`/`boxplot_info` aggregates with the rule that routes them
  * (graft.plans.BoxplotScaleRule).
  *
  * It is a `SparkSessionExtensionsProvider` named in
  * `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`,
  * so Spark's builder applies it to every root session it makes on a
  * classpath holding this engine, and every `newSession()` of that root
  * shares it: `graft.Sessions.root()`, request sessions, test sessions and
  * an embedding app's sessions are all born with the engine, and nothing
  * registers per session. `spark.sql.extensions=graft.GraftExtensions` and
  * `builder.withExtensions(new GraftExtensions)` still work and add
  * nothing more: an extensions object is applied to once.
  */
class GraftExtensions extends SparkSessionExtensionsProvider {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.overrideBuiltins
    if (GraftExtensions.firstApplication(ext)) {
      // Route boxplot_info aggregates (task SQL has no row cap) through
      // the distributed percentile+join-back plan; runs post-hoc so the
      // rewritten plan still flows through the full optimizer.
      ext.injectPostHocResolutionRule(_ => graft.plans.BoxplotScaleRule)
      // constant tag statements answered without a Spark job, tagged
      // grouping keys grouped on the raw member value
      ext.injectOptimizerRule(_ => graft.plans.ShaperTagRules)
      GraftExtensions.functions.foreach(ext.injectFunction)
    }
  }
}

object GraftExtensions {

  type Function = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(name: String, cls: Class[_], builder: Seq[Expression] => Expression): Function =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)

  /** Every function the extension injects, made once per JVM: a registry
    * holding one of these `ExpressionInfo`s holds this engine's function. */
  val functions: Seq[Function] =
    graft.types.ShaperTypes.all.map(td => fn(td.name, classOf[graft.types.ShaperTagged],
      exprs => graft.types.ShaperTagged(td.name, exprs.head))) ++ Seq(
      fn("cosine_sim", classOf[graft.exprs.CosineSim], exprs => graft.exprs.CosineSim(exprs(0), exprs(1))),
      fn("len", classOf[graft.exprs.Len], exprs => graft.exprs.Len(exprs.head)),
      fn("sq_dist", classOf[graft.exprs.SqDist], exprs => graft.exprs.SqDist(exprs(0), exprs(1))),
      fn("nfc_normalize", classOf[graft.exprs.NfcNormalize], exprs => graft.exprs.NfcNormalize(exprs.head)),
      fn("shingles3", classOf[graft.exprs.Shingles3], exprs => graft.exprs.Shingles3(exprs.head)),
      fn("word_pairs", classOf[graft.exprs.WordPairs], exprs => graft.exprs.WordPairs(exprs.head)),
      fn("md5_bits60", classOf[graft.exprs.Md5Bits60], exprs => graft.exprs.Md5Bits60(exprs.head)),
      fn("quality_score", classOf[graft.exprs.QualityScore], exprs => graft.exprs.QualityScore(exprs.head)),
      fn("jl_project", classOf[graft.exprs.JlProject], graft.exprs.JlProject.fromExprs),
      fn("BOXPLOT", classOf[graft.exprs.Boxplot.BoxplotAgg], graft.exprs.Boxplot.plain),
      fn("boxplot_info", classOf[graft.exprs.Boxplot.BoxplotInfoAgg], graft.exprs.Boxplot.info))

  private val byName: Map[String, Function] = functions.map(f => f._1.funcName -> f).toMap

  /** Extensions objects already applied to; weak, so a stopped root's are
    * not pinned. The builder applies the provider after
    * `withExtensions`/`spark.sql.extensions` have applied to the same
    * object, and injecting twice would run each rule twice. */
  private val applied = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSessionExtensions, java.lang.Boolean])

  private def firstApplication(ext: SparkSessionExtensions): Boolean =
    applied.synchronized(applied.add(ext))

  /** Put the named functions into `spark`'s registry, skipping any it
    * already holds (a session born with this extension holds them all),
    * so no call replaces a function and none logs Spark's
    * "replaced a previously registered function" warning. */
  def register(spark: SparkSession, names: String*): Unit =
    put(spark.sessionState.functionRegistry, names.map(byName))

  /** Spark's builtin registry, which every new session's registry is
    * cloned from, holding this engine's version of each builtin name it
    * overrides (`len`, whose Spark form counts only strings and binary). A
    * session born with the extension then overrides its own entry, and
    * logs no replace warning per session. Once per JVM, when the first
    * root session is built, and seen by every session the JVM makes
    * afterwards. */
  private lazy val overrideBuiltins: Unit =
    put(FunctionRegistry.builtin, functions.filter(f => FunctionRegistry.builtin.functionExists(f._1)))

  private def put(registry: FunctionRegistry, fns: Seq[Function]): Unit =
    fns.foreach { case (id, info, builder) =>
      if (!registry.lookupFunction(id).contains(info)) registry.registerFunction(id, info, builder)
    }
}
