package graft

import graft.exprs.SqDist
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SqDist: value parity with the aggregate/zip_with formulation it
  * replaced in the k-means family (s04/d17/s10/s09), its null
  * semantics, and codegen execution. */
class SqDistSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val hof =
    "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)"

  test("bit-exact vs the aggregate/zip_with formulation") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 6.0, 8.0)),
      (Array(0.1, -0.2, 0.3), Array(-0.4, 0.5, -0.6)),
      (Array(1e-9, 2e9, -3.5), Array(1e-9, 2e9, -3.5)),
      (Array.tabulate(64)(_ * 0.013), Array.tabulate(64)(i => 1.0 - i * 0.007)))
      .toDF("a", "b")
    val rows = df.select(expr("sq_dist(a, b)").as("n"), expr(hof).as("h")).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"native ${r.getDouble(0)} != hof ${r.getDouble(1)}"))
  }

  test("null semantics mirror zip_with padding: length mismatch / null element / null array") {
    import spark.implicits._
    val df = Seq(
      (Some(Array(Option(1.0), Option(2.0))), Some(Array(Option(1.0)))),          // length mismatch
      (Some(Array(Option(1.0), None)), Some(Array(Option(1.0), Option(2.0)))),    // null element
      (None, Some(Array(Option(1.0)))),                                           // null array
      (Some(Array(Option(1.0), Option(2.0))), Some(Array(Option(3.0), Option(4.0)))) // clean
    ).toDF("a", "b")
    val rows = df.select(expr("sq_dist(a, b)").as("n"), expr(hof).as("h")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1),
        s"null disagreement: native=${r.isNullAt(0)} hof=${r.isNullAt(1)}")
      if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1))
    }
    assert(rows.take(3).forall(_.isNullAt(0)) && !rows(3).isNullAt(0))
  }

  test("executes inside whole-stage codegen; interpreted eval agrees") {
    val df = spark.range(1, 2)
      .selectExpr("array(cast(id as double), cast(id * 2 as double)) as a",
        "array(cast(id * 3 as double), cast(id * 4 as double)) as b")
      .select(expr("sq_dist(a, b)").as("d"))
    val codegenStages = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenStages.exists(_.toString.contains("sq_dist")))
    val viaCodegen = df.collect()(0).getDouble(0)
    val lit = (xs: Array[Double]) =>
      org.apache.spark.sql.catalyst.expressions.Literal.create(xs,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
    val viaEval = SqDist(lit(Array(1.0, 2.0)), lit(Array(3.0, 4.0)))
      .eval(null).asInstanceOf[Double]
    assert(viaCodegen == viaEval && viaEval == 8.0)
  }

  test("no interpreted fallback under CODEGEN_ONLY") {
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val nn = spark.range(1, 3)
        .selectExpr("array(cast(id as double)) as a", "array(cast(id * 2 as double)) as b")
        .selectExpr("sq_dist(a, b) as d").collect()
      assert(nn.length == 2 && nn(0).getDouble(0) == 1.0)
    } finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.fallback", "true")
    }
  }
}

/** Md5Bits60: bit parity with the composed conv(substring(md5(...)))
  * chain it replaces on the engine's hottest hash path, plus codegen
  * execution. */
class Md5Bits60Spec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("bit-exact vs conv(substring(md5, 1, 15)) across ascii/unicode/empty") {
    import spark.implicits._
    val rows = Seq("", "a", "the quick brown fox", "caf\u00e9 \u00fcber",
      "\u6570\u636e\u5904\u7406 spark", "\ud83d\ude00 emoji",
      "x" * 1000).toDF("s")
      .select(expr("md5_bits60(s)").as("n"),
        expr("cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)").as("h"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"native ${r.getLong(0)} != chain ${r.getLong(1)}"))
    assert(rows.forall(_.getLong(0) >= 0L), "60-bit value must be non-negative")
  }

  test("executes inside whole-stage codegen") {
    val df = spark.range(1, 100)
      .selectExpr("md5_bits60(cast(id as string)) as h")
    val codegenStages = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenStages.exists(_.toString.contains("md5_bits60")))
    assert(df.collect().map(_.getLong(0)).distinct.length == 99)
  }
}

/** QualityScore: value parity with the HOF reference formulation
  * (qualityScoreExpr) across tokenization edge cases, plus codegen. */
class QualityScoreSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("bit-exact vs the HOF reference across edge tokenizations") {
    import spark.implicits._
    val rows = Seq(
      "the quick brown fox",
      "single",
      "double  space", // empty token between the spaces must count
      "trailing space ", // trailing empty token must count
      " leading", "", // empty text is one empty token
      "caf\u00e9 \u00fcber stra\u00dfe", // non-ascii tokens
      ("tok " * 200).trim)
      .toDF("text")
      .select(expr("quality_score(text)").as("n"),
        graft.queries.PipelineOps.qualityScoreExpr.as("h"))
      .collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"native ${r.getDouble(0)} != hof ${r.getDouble(1)}"))
  }

  test("executes inside whole-stage codegen; null in, null out") {
    val df = spark.range(1, 50)
      .selectExpr("quality_score(concat('tok ', cast(id as string))) as q")
    val codegenStages = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenStages.exists(_.toString.contains("quality_score")))
    assert(df.collect().forall(r => r.getDouble(0) > 0 && r.getDouble(0) < 1))
    import spark.implicits._
    val n = Seq[Option[String]](None).toDF("text")
      .selectExpr("quality_score(text) as q").collect()
    assert(n(0).isNullAt(0))
  }
}
