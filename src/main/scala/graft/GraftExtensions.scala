package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extensions injector: enables the engine's SQL surface on any
  * SparkSession via the standard mechanism —
  * `--conf spark.sql.extensions=graft.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`), no imperative
  * registration calls needed. Injects the 48 shaper custom-type
  * functions (the `::TYPE` targets produced by
  * graft.sqlfront.Dialect), their optimizer rule
  * (graft.plans.ShaperTagRules), the codegen'd natives, `len`, and the
  * `BOXPLOT`/`boxplot_info` aggregates with the rule that routes them
  * (graft.plans.BoxplotScaleRule).
  *
  * `graft.Sessions.request` applies it once to the root session's shared
  * extensions, so every request session is born with all of this; the
  * per-kernel `register` calls only matter on a session built without it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
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
    * logs no replace warning per session. Once per JVM, and seen by
    * every session the JVM makes afterwards, not only those built with
    * the extension. */
  private[graft] lazy val overrideBuiltins: Unit =
    put(FunctionRegistry.builtin, functions.filter(f => FunctionRegistry.builtin.functionExists(f._1)))

  private def put(registry: FunctionRegistry, fns: Seq[Function]): Unit =
    fns.foreach { case (id, info, builder) =>
      if (!registry.lookupFunction(id).contains(info)) registry.registerFunction(id, info, builder)
    }
}
