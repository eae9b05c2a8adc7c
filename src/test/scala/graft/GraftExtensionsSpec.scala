package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The spark.sql.extensions entry point: engine functions must resolve
  * on a session built with GraftExtensions and no imperative setup. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("engine functions available via withExtensions (spark.sql.extensions)") {
    val old = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions())
      .getOrCreate()
    try {
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
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      old.foreach(SparkSession.setDefaultSession)
    }
  }
}
