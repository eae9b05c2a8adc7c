package graft

import graft.exprs.CosineSim
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** CosineSim: value parity with the higher-order-function formulation,
  * null propagation, and codegen execution (no CodegenFallback). */
class CosineSimSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val hof =
    """aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, z) -> acc + z)
       / (sqrt(aggregate(a, 0D, (acc, x) -> acc + x * x))
          * sqrt(aggregate(b, 0D, (acc, x) -> acc + x * x)))"""

  test("bit-exact vs higher-order-function formulation") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(-1.0, 0.5, 2.25), Array(3.0, -2.0, 0.125)),
      (Array(1e-8, 1e8, -7.0), Array(2.0, 2.0, 2.0))
    ).toDF("a", "b")
    val rows = df.select(expr("cosine_sim(a, b)").as("c"), expr(hof).as("h")).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1))) // exact, not approx
  }

  test("orthogonal / identical / null inputs") {
    import spark.implicits._
    val df = Seq(
      (Option(Array(1.0, 0.0)), Option(Array(0.0, 1.0))),
      (Option(Array(2.0, 2.0)), Option(Array(2.0, 2.0))),
      (None: Option[Array[Double]], Option(Array(1.0, 1.0)))
    ).toDF("a", "b")
    val out = df.select(expr("cosine_sim(a, b)")).collect()
    assert(out(0).getDouble(0) == 0.0)
    assert(math.abs(out(1).getDouble(0) - 1.0) < 1e-15)
    assert(out(2).isNullAt(0)) // null-intolerant: null in, null out
    // a null ELEMENT also yields null (HOF-chain parity), not garbage/NPE
    val withNullElem = spark.sql(
      "SELECT cosine_sim(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D)) AS c")
    // the analyzed schema must be nullable too (a false nullable made
    // the row decoder read the null result as 0.0)
    assert(withNullElem.schema.head.nullable)
    assert(withNullElem.head.isNullAt(0))
  }

  test("len() dispatches on type like DuckDB (string chars, list size)") {
    val r = spark.sql(
      "SELECT len('hello') AS ls, len(array(1, 2, 3)) AS la, len(map('a', 1)) AS lm")
      .head
    assert(r.getInt(0) == 5 && r.getInt(1) == 3 && r.getInt(2) == 1)
    // null propagation
    assert(spark.sql("SELECT len(CAST(NULL AS STRING)) AS l").head.isNullAt(0))
  }

  test("executes inside whole-stage codegen (no fallback)") {
    // non-literal, non-HOF inputs: literals would constant-fold the
    // projection away, and transform() is itself CodegenFallback
    val df = spark.range(1, 2)
      .selectExpr("array(cast(id as double), cast(id * 2 as double)) as a",
        "array(cast(id * 3 as double), cast(id * 4 as double)) as b")
      .select(expr("cosine_sim(a, b)").as("c"))
    val codegenStages = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    // the projection containing cosine_sim must live inside a codegen stage
    assert(codegenStages.exists(_.toString.contains("cosine_sim")))
    // interpreted eval agrees with codegen'd eval
    val viaCodegen = df.collect()(0).getDouble(0)
    val viaEval = CosineSim(
      org.apache.spark.sql.catalyst.expressions.Literal.create(Array(1.0, 2.0),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(Array(3.0, 4.0),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)))
      .eval(null).asInstanceOf[Double]
    assert(viaCodegen == viaEval)
  }

  test("no interpreted fallback on ANY dispatch shape (CODEGEN_ONLY)") {
    // a codegen compile error normally falls back to interpreted mode
    // with only a WARN — a silent perf cliff in a hot projection. Under
    // CODEGEN_ONLY + fallback=false every shape below must COMPILE, or
    // this test throws. The non-nullable shape (containsNull=false
    // inputs) is the regression case: nullSafeCodeGen swaps ev.isNull
    // to FalseLiteral, so result code writing `ev.isNull = true`
    // referenced an undeclared variable and failed Janino.
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      // cosine_sim, non-nullable inputs (containsNull=false)
      val nn = spark.range(1, 3)
        .selectExpr("array(cast(id as double), cast(id * 2 as double)) as a",
          "array(cast(id * 3 as double), cast(id * 4 as double)) as b")
        .selectExpr("cosine_sim(a, b) as c").collect()
      assert(nn.length == 2 && !nn(0).isNullAt(0))
      // cosine_sim, nullable child + nullable elements
      import spark.implicits._
      val nv = Seq(
        (Option(Array(1.0, 2.0)), Option(Array(3.0, 4.0))),
        (None: Option[Array[Double]], Option(Array(1.0, 1.0)))
      ).toDF("a", "b").selectExpr("cosine_sim(a, b) as c").collect()
      assert(!nv(0).isNullAt(0) && nv(1).isNullAt(0))
      // len() dispatch branches: string / array / map / null, all
      // non-literal so the projection actually runs
      val l = spark.range(1, 2).selectExpr(
        "len(cast(id as string)) as ls",
        "len(array(id, id)) as la",
        "len(map('a', id)) as lm",
        "len(if(id < 0, 'x', cast(null as string))) as ln").head
      assert(l.getInt(0) == 1 && l.getInt(1) == 2 && l.getInt(2) == 1 && l.isNullAt(3))
    } finally {
      spark.conf.unset("spark.sql.codegen.factoryMode")
      spark.conf.unset("spark.sql.codegen.fallback")
    }
  }
}
