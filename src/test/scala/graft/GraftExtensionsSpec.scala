package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Percentile}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.scalatest.funsuite.AnyFunSuite

/** The extensions-provider entry point: every root session Spark's
  * builder makes on this classpath, and every `newSession()` of it, is
  * born with the engine's functions and rules, with no imperative setup;
  * naming the extension again adds nothing. */
class GraftExtensionsSpec extends AnyFunSuite {

  /** `body` on a new root session from `builder` (a plain one by
    * default), with the previous default session restored afterwards. */
  private def withRoot[A](builder: SparkSession.Builder => SparkSession.Builder = identity)(
      body: SparkSession => A): A = {
    val old = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = builder(SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    try body(s) finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      old.foreach(SparkSession.setDefaultSession)
    }
  }

  /** How often `s` runs each of the engine's two rules. */
  private def ruleCounts(s: SparkSession): (Int, Int) = (
    s.sessionState.optimizer.extendedOperatorOptimizationRules.count(_ eq graft.plans.ShaperTagRules),
    s.sessionState.analyzer.postHocResolutionRules.count(_ eq graft.plans.BoxplotScaleRule))

  test("a plain builder session and its new sessions are born with the engine") {
    withRoot() { root =>
      Seq(root, root.newSession()).foreach { s =>
        val registry = s.sessionState.functionRegistry
        GraftExtensions.functions.foreach { case (id, info, _) =>
          assert(registry.lookupFunction(id).exists(_ eq info), id)
        }
        val label = s.sql(graft.sqlfront.Dialect.rewrite("SELECT 'x'::LABEL"))
        assert(label.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
          label.queryExecution.optimizedPlan)
        assert(label.head.getStruct(0).getString(0) == "x")
        // routed at analysis, by the post-hoc resolution rule
        val bp = s.sql("SELECT boxplot_info(CAST(id AS DOUBLE), map('k', 'v')) AS bp FROM range(5)")
        val fns = bp.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
          case ax: AggregateExpression => ax.aggregateFunction
        }))
        assert(fns.exists(_.isInstanceOf[Percentile]), bp.queryExecution.analyzed)
        assert(!fns.exists(_.isInstanceOf[ScalaAggregator[_, _, _]]), bp.queryExecution.analyzed)
        assert(bp.head.getStruct(0).getDouble(4) == 2.0)
        assert(ruleCounts(s) == ((1, 1)))
      }
    }
  }

  test("naming the extension again on top of the provider runs each rule once") {
    val plain = withRoot()(ruleCounts)
    val named = withRoot(_.withExtensions(new GraftExtensions())
      .config("spark.sql.extensions", classOf[GraftExtensions].getName))(ruleCounts)
    assert(plain == ((1, 1)))
    assert(named == plain)
  }

  test("engine functions available via withExtensions (spark.sql.extensions)") {
    withRoot(_.withExtensions(new GraftExtensions())) { s =>
      val c = s.sql("SELECT cosine_sim(array(3.0D, 4.0D), array(3.0D, 4.0D)) AS c")
        .head.getDouble(0)
      assert(math.abs(c - 1.0) < 1e-12)
      // a shaper type function injected by the extension, reached
      // through the dialect's ::TYPE rewrite
      val tagged = s.sql(graft.sqlfront.Dialect.rewrite(
        "SELECT 'alpha'::DROPDOWN AS d"))
      val field = tagged.schema.head
      assert(field.dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
      assert(tagged.count() == 1)
      // the injected ShaperTagRules answer a constant tag statement
      // without a Spark job: its plan folds to one LocalRelation
      val label = s.sql(graft.sqlfront.Dialect.rewrite("SELECT 'Title'::LABEL"))
      assert(label.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
        label.queryExecution.optimizedPlan)
      assert(label.head.getStruct(0).getString(0) == "Title")
      // the r7-injected natives: every codegen'd kernel resolves with
      // no imperative register() call
      assert(s.sql("SELECT sq_dist(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
        .head.getDouble(0) == 8.0)
      assert(s.sql("SELECT nfc_normalize('café') AS n").head.getString(0) == "café")
      assert(s.sql("SELECT size(shingles3('a b c d')) AS n").head.getInt(0) == 2)
      assert(s.sql("SELECT size(word_pairs('a b c')) AS n").head.getInt(0) == 2)
      assert(s.sql("SELECT md5_bits60('x') AS h").head.getLong(0) ==
        s.sql("SELECT cast(conv(substring(md5('x'), 1, 15), 16, 10) as bigint) AS h")
          .head.getLong(0))
      val proj = s.sql("SELECT jl_project(array(0.5D, 0.25D), 2, 2) AS p")
        .head.getSeq[Double](0)
      assert(proj.length == 2)
      val q = s.sql("SELECT quality_score('a b c') AS q").head.getDouble(0)
      assert(q > 0 && q < 1)
    }
  }
}
