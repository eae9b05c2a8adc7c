package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extensions injector: enables the engine's SQL surface on any
  * SparkSession via the standard mechanism —
  * `--conf spark.sql.extensions=graft.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`), no imperative
  * registration calls needed. Injects the 48 shaper custom-type
  * functions (the `::TYPE` targets produced by
  * graft.sqlfront.Dialect), their optimizer rule
  * (graft.plans.ShaperTagRules) and the codegen'd `cosine_sim`.
  *
  * The BOXPLOT aggregate is Aggregator-based (needs a live session for
  * its encoders), so it stays on `graft.exprs.Boxplot.register` —
  * the interpreter calls it per render session.
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
    graft.types.ShaperTypes.all.foreach { td =>
      ext.injectFunction((
        FunctionIdentifier(td.name),
        new ExpressionInfo(classOf[graft.types.ShaperTagged].getName, td.name),
        (exprs: Seq[Expression]) => graft.types.ShaperTagged(td.name, exprs.head)))
    }
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[graft.exprs.CosineSim].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => graft.exprs.CosineSim(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("len"),
      new ExpressionInfo(classOf[graft.exprs.Len].getName, "len"),
      (exprs: Seq[Expression]) => graft.exprs.Len(exprs.head)))
    // the full native-expression surface, so a spark-submit deployment
    // gets every codegen'd kernel without imperative register() calls
    ext.injectFunction((
      FunctionIdentifier("sq_dist"),
      new ExpressionInfo(classOf[graft.exprs.SqDist].getName, "sq_dist"),
      (exprs: Seq[Expression]) => graft.exprs.SqDist(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[graft.exprs.NfcNormalize].getName, "nfc_normalize"),
      (exprs: Seq[Expression]) => graft.exprs.NfcNormalize(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("shingles3"),
      new ExpressionInfo(classOf[graft.exprs.Shingles3].getName, "shingles3"),
      (exprs: Seq[Expression]) => graft.exprs.Shingles3(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("word_pairs"),
      new ExpressionInfo(classOf[graft.exprs.WordPairs].getName, "word_pairs"),
      (exprs: Seq[Expression]) => graft.exprs.WordPairs(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("md5_bits60"),
      new ExpressionInfo(classOf[graft.exprs.Md5Bits60].getName, "md5_bits60"),
      (exprs: Seq[Expression]) => graft.exprs.Md5Bits60(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("quality_score"),
      new ExpressionInfo(classOf[graft.exprs.QualityScore].getName, "quality_score"),
      (exprs: Seq[Expression]) => graft.exprs.QualityScore(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("jl_project"),
      new ExpressionInfo(classOf[graft.exprs.JlProject].getName, "jl_project"),
      (exprs: Seq[Expression]) => graft.exprs.JlProject.fromExprs(exprs)))
  }
}
