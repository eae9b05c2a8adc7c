package graft

import graft.exprs.Boxplot
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Percentile}
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the scale-safe Boxplot.tukey kernel (percentile + broadcast
  * join-back; no per-group value collection) to the BoxplotInfoAgg
  * UDAF it replaces in bp01 — identical BoxplotResult structs on a
  * frame that exercises every branch: a group with outliers, a group
  * with none, null values, null infos (group still switches branches —
  * the macro's `count(*) FILTER (WHERE outlier_info IS NOT NULL) > 0`
  * condition, ref: custom_types.go:104-119), and an all-null-info
  * group that must take the plain ELSE branch. Also pins the plain
  * `BOXPLOT(x)` dialect rewrite (builtin max/min/percentile struct)
  * against the same UDAF semantics.
  */
class BoxplotTukeySpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft-bp-wh").toString
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  private def sampleDf(): DataFrame = {
    import spark.implicits._
    val rows =
      // group a: clear Tukey outliers at both ends + a null value +
      // one null info (group still has info => Tukey branch)
      Seq(("a", Some(1000.0), Some("far-hi")), ("a", Some(-500.0), Some("far-lo")),
        ("a", Some(10.0), Some("i1")), ("a", Some(11.0), Some("i2")),
        ("a", Some(12.0), Some("i3")), ("a", Some(13.0), Some("i4")),
        ("a", Some(14.0), None), ("a", None, Some("null-value")),
        // group b: tight cluster, no outliers
        ("b", Some(5.0), Some("b1")), ("b", Some(6.0), Some("b2")),
        ("b", Some(7.0), Some("b3")),
        // group c: every info null -> ELSE branch (plain min/max)
        ("c", Some(1.0), None), ("c", Some(100.0), None))
    rows.map { case (g, v, i) =>
      (g, v.map(Double.box).orNull.asInstanceOf[java.lang.Double],
        i.orNull)
    }.toDF("g", "v", "i")
  }

  private val boxplotCall = """(?i)\b(?:boxplot_info|boxplot)\((?:[^()]|\([^()]*\))*\)""".r

  /** `sql` with every `BOXPLOT`/`boxplot_info` call marked
    * `FILTER (WHERE true)`: the same rows reach the aggregate, and
    * BoxplotScaleRule leaves FILTERed calls alone, so the plan genuinely
    * executes the UDAF — the reference implementation these parity pins
    * are against. Every session is born with the rule, so the plan is
    * checked to hold the UDAF. */
  private def viaUdaf(sql: String): DataFrame = {
    val df = spark.sql(boxplotCall.replaceAllIn(sql,
      m => scala.util.matching.Regex.quoteReplacement(m.matched + " FILTER (WHERE true)")))
    val fns = df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case ax: AggregateExpression => ax.aggregateFunction
    }))
    assert(fns.exists {
      case sa: ScalaAggregator[_, _, _] =>
        sa.agg.isInstanceOf[Boxplot.BoxplotAgg] || sa.agg.isInstanceOf[Boxplot.BoxplotInfoAgg]
      case _ => false
    }, s"no boxplot UDAF in the reference plan:\n${df.queryExecution.optimizedPlan}")
    assert(!fns.exists(_.isInstanceOf[Percentile]),
      s"the reference plan was routed:\n${df.queryExecution.optimizedPlan}")
    df
  }

  private def canon(df: DataFrame): Seq[String] = {
    // bp struct -> a stable string: scalars rounded, outliers as
    // (value, info-k) pairs in value order
    df.selectExpr("g",
      "round(bp.q1, 6) AS q1", "round(bp.q2, 6) AS q2", "round(bp.q3, 6) AS q3",
      "round(bp.min, 6) AS mn", "round(bp.max, 6) AS mx",
      "transform(bp.outliers, o -> concat(CAST(round(o.value, 6) AS STRING), '@', coalesce(o.info['k'], '<null>'))) AS outl")
      .orderBy("g")
      .collect()
      .map(r => r.toSeq.map {
        case s: scala.collection.Seq[_] => s.mkString("[", ";", "]")
        case x => String.valueOf(x)
      }.mkString("|")).toSeq
  }

  test("tukey kernel agrees with the boxplot_info UDAF on every branch") {
    val df = sampleDf()
    df.createOrReplaceTempView("bp_tukey_src")
    val udaf = viaUdaf(
      """SELECT g, boxplot_info(CAST(v AS DOUBLE), map('k', i)) AS bp
        |FROM bp_tukey_src GROUP BY g""".stripMargin)
    val kernel = graft.exprs.Boxplot.tukey(
      df, Seq("g"), "v", map(lit("k"), col("i")))
    assert(canon(kernel) === canon(udaf))
  }

  test("tukey kernel keeps the NULL group key row (null-safe join-back)") {
    // GROUP BY emits a row for the NULL group; a plain equi-join-back
    // would silently drop it (r7 advice). Pin tukey == UDAF on a frame
    // where one group key is null.
    import spark.implicits._
    val df = Seq(
      (Option("a"), 1.0, "x"), (Option("a"), 2.0, "y"),
      (Option.empty[String], 10.0, "n1"), (Option.empty[String], 11.0, "n2"),
      (Option.empty[String], 500.0, "n-far"), (Option.empty[String], 12.0, "n3"),
      (Option.empty[String], 13.0, "n4"))
      .toDF("g", "v", "i")
    df.createOrReplaceTempView("bp_nullkey_src")
    val udaf = viaUdaf(
      """SELECT g, boxplot_info(CAST(v AS DOUBLE), map('k', i)) AS bp
        |FROM bp_nullkey_src GROUP BY g""".stripMargin)
    val kernel = graft.exprs.Boxplot.tukey(
      df, Seq("g"), "v", map(lit("k"), col("i")))
    assert(kernel.filter(col("g").isNull).count() == 1,
      "null group key must survive the join-back")
    assert(canon(kernel) === canon(udaf))
  }

  test("plain BOXPLOT(x) rewrite (builtin aggregates) matches the UDAF ELSE branch") {
    sampleDf().createOrReplaceTempView("bp_plain_src")
    val reference = viaUdaf(
      "SELECT g, BOXPLOT(CAST(v AS DOUBLE)) AS bp FROM bp_plain_src GROUP BY g")
    val viaRewrite = spark.sql(graft.sqlfront.Dialect.rewrite(
      "SELECT g, BOXPLOT(v) AS bp FROM bp_plain_src GROUP BY g"))
    assert(canon(viaRewrite) === canon(reference))
    // and the rewritten form must be builtins: no UDAF in the plan
    val plan = viaRewrite.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("boxplot"), s"UDAF still in plan:\n$plan")
    assert(plan.contains("percentile"), "builtin percentile missing from rewritten plan")
  }

  test("BoxplotScaleRule: SQL boxplot_info runs the distributed plan, UDAF-identical") {
    // the r7 weak mark: task SQL reaching boxplot_info Kryo-collected
    // whole groups. With the rule registered, the physical plan must
    // carry percentile + collect_list instead of the ScalaAggregator,
    // and agree with the genuine UDAF on every branch — including
    // riding alongside other aggregates and a non-attribute group key.
    sampleDf().createOrReplaceTempView("bp_rule_src")
    val sql =
      """SELECT upper(g) AS gu, count(*) AS n, avg(v) AS m,
        |       boxplot_info(CAST(v AS DOUBLE), map('k', i)) AS bp
        |FROM bp_rule_src GROUP BY upper(g)""".stripMargin
    val routed = spark.sql(sql)
    val plan = routed.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("boxplotinfoagg"),
      s"UDAF still in routed plan:\n$plan")
    assert(plan.contains("percentile") && plan.contains("collect_list"),
      s"distributed shape missing:\n$plan")
    def canonG(df: DataFrame): Seq[String] =
      canon(df.withColumnRenamed("gu", "g")
        .selectExpr("g", "bp", "n", "m").withColumn("m", round(col("m"), 6)))
        .sorted
    assert(canonG(routed) === canonG(viaUdaf(sql)))
  }

  test("BoxplotScaleRule: global aggregate (no GROUP BY) and empty input keep UDAF row semantics") {
    sampleDf().createOrReplaceTempView("bp_glob_src")
    val sql = "SELECT boxplot_info(CAST(v AS DOUBLE), map('k', i)) AS bp FROM bp_glob_src"
    def one(df: DataFrame): String =
      df.selectExpr("round(bp.q1,6) q1", "round(bp.max,6) mx",
          "size(bp.outliers) no").collect().map(_.toString).mkString("|")
    assert(one(spark.sql(sql)) === one(viaUdaf(sql)))
    // empty input: global aggregate still emits exactly ONE row with
    // null scalars and an EMPTY (not null) outlier list, like finish(zero)
    val emptySql = sql.replace("bp_glob_src", "bp_glob_src WHERE v > 1e18")
    val rows = spark.sql(emptySql).collect()
    val udafRows = viaUdaf(emptySql).collect()
    assert(rows.length == 1 && udafRows.length == 1)
    val (r, u) = (rows.head.getStruct(0), udafRows.head.getStruct(0))
    assert(r.isNullAt(3) && u.isNullAt(3), "q1 must be null on empty input")
    assert(r.getSeq[Any](2).isEmpty && u.getSeq[Any](2).isEmpty,
      "outliers must be empty, not null")
  }

  test("BoxplotScaleRule: 1-arg BOXPLOT routes to native aggregates, UDAF-identical") {
    // r8 prescription: the no-info ELSE branch. The rule substitutes
    // the registered 1-arg UDAF in place for builtin max/min/percentile
    // (no join-back), including alongside other aggregates, a mixed
    // query with the 2-arg form, and the empty-input global aggregate.
    sampleDf().createOrReplaceTempView("bp_plain_rule_src")
    val sql =
      """SELECT g, count(*) AS n, BOXPLOT(CAST(v AS DOUBLE)) AS bp
        |FROM bp_plain_rule_src GROUP BY g""".stripMargin
    val routed = spark.sql(sql)
    val plan = routed.queryExecution.executedPlan.toString
    // native Percentile executes via ObjectHashAggregate too (its
    // buffer is a value->count map, partial-aggregable map-side) —
    // the pin is that no ScalaAggregator (the Kryo collect-per-group
    // UDAF) survives
    assert(!plan.contains("ScalaAggregator") && !plan.contains("BoxplotAgg"),
      s"1-arg UDAF still in routed plan:\n$plan")
    assert(plan.contains("percentile"), s"native quartiles missing:\n$plan")
    assert(canon(routed) === canon(viaUdaf(sql)))
    // mixed 1-arg + 2-arg in one SELECT: both route, both agree
    val mixed =
      """SELECT g, BOXPLOT(CAST(v AS DOUBLE)) AS bp,
        |       boxplot_info(CAST(v AS DOUBLE), map('k', i)) AS bpi
        |FROM bp_plain_rule_src GROUP BY g""".stripMargin
    val routedM = spark.sql(mixed)
    val planM = routedM.queryExecution.executedPlan.toString
    assert(!planM.contains("ScalaAggregator"), s"mixed query left a UDAF:\n$planM")
    def canonM(df: DataFrame): Seq[String] =
      canon(df.select(col("g"), col("bp"))) ++
        canon(df.select(col("g"), col("bpi").as("bp")))
    assert(canonM(routedM) === canonM(viaUdaf(mixed)))
    // empty input: one row, null scalars, EMPTY (not null) outliers
    val empty = spark.sql(
      "SELECT BOXPLOT(CAST(v AS DOUBLE)) AS bp FROM bp_plain_rule_src WHERE v > 1e18")
    val r = empty.collect().head.getStruct(0)
    assert(r.isNullAt(3), "q1 must be null on empty input")
    assert(r.getSeq[Any](2).isEmpty, "outliers must be empty, not null")
  }

  test("BoxplotScaleRule: FILTERed calls stay on the UDAF (unsupported shape)") {
    sampleDf().createOrReplaceTempView("bp_filt_src")
    val df = spark.sql(
      """SELECT g, boxplot_info(CAST(v AS DOUBLE), map('k', i))
        |         FILTER (WHERE v IS NOT NULL) AS bp
        |FROM bp_filt_src GROUP BY g""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("boxplotinfoagg"),
      s"FILTERed call must not be rewritten:\n$plan")
    assert(df.count() == 3)
  }

  test("render layer still detects the rewritten/kernel struct as a boxplot") {
    import org.apache.spark.sql.types._
    val bpType = StructType(Seq(
      StructField("max", DoubleType), StructField("min", DoubleType),
      StructField("outliers", ArrayType(StructType(Seq(
        StructField("value", DoubleType),
        StructField("info", MapType(StringType, StringType)))))),
      StructField("q1", DoubleType), StructField("q2", DoubleType),
      StructField("q3", DoubleType)))
    assert(graft.render.Render.isBoxplotStruct(bpType))
    val kernel = graft.exprs.Boxplot.tukey(
      sampleDf(), Seq("g"), "v", map(lit("k"), col("i")))
    assert(graft.render.Render.isBoxplotStruct(
      kernel.schema("bp").dataType))
  }
}
