package graft.exprs

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** BOXPLOT(val) aggregate — port of the reference's SQL macro
  * (ref: server/core/custom_types.go:102-134). Without the
  * `outlier_info` argument the macro's ELSE branch applies: plain
  * max/min plus exact linear-interpolation quartiles (DuckDB
  * quantile_cont semantics). The outlier_info variant (Tukey 1.5·IQR
  * whiskers + outlier list) is modeled by `BoxplotResult.outliers`,
  * emitted empty here — matching the reference's no-info branch.
  *
  * Output struct field order (max, min, outliers, q1, q2, q3) is what
  * the render layer keys boxplot detection on (ref:
  * findBoxlotColumnIndex, get_dashboard.go:749-756).
  *
  * Scale note: the UDAF buffers collect values, which is fine for the
  * dashboard path (≤3000-row results, reference row cap) — but SQL is
  * not row-capped on the task path, so GraftExtensions also injects
  * [[graft.plans.BoxplotScaleRule]] into every session, which
  * rewrites BOTH registered forms: boxplot_info into [[tukey]]'s
  * percentile + broadcast join-back plan, and the 1-arg BOXPLOT in
  * place into native max/min/percentile (no join-back — the ELSE
  * branch has no outlier list). The UDAFs remain the reference
  * implementations BoxplotTukeySpec pins both the rule and the kernel
  * against.
  */
object Boxplot {

  final case class BoxplotOutlier(value: Double, info: Map[String, String])
  final case class BoxplotResult(
      max: Option[Double], min: Option[Double],
      outliers: Seq[BoxplotOutlier],
      q1: Option[Double], q2: Option[Double], q3: Option[Double])

  /** quantile_cont: linear interpolation between closest ranks. */
  def quantileCont(sorted: IndexedSeq[Double], p: Double): Double = {
    val n = sorted.length
    if (n == 1) sorted.head
    else {
      val pos = (n - 1) * p
      val lo = pos.toInt
      val frac = pos - lo
      if (lo + 1 < n) sorted(lo) * (1 - frac) + sorted(lo + 1) * frac
      else sorted(lo)
    }
  }

  class BoxplotAgg extends Aggregator[java.lang.Double, List[Double], BoxplotResult] {
    def zero: List[Double] = Nil
    def reduce(b: List[Double], a: java.lang.Double): List[Double] =
      if (a == null) b else a.doubleValue() :: b
    def merge(b1: List[Double], b2: List[Double]): List[Double] = b1 ::: b2
    def finish(b: List[Double]): BoxplotResult = {
      if (b.isEmpty) BoxplotResult(None, None, Nil, None, None, None)
      else {
        val sorted = b.toIndexedSeq.sorted
        BoxplotResult(
          Some(sorted.last), Some(sorted.head), Nil,
          Some(quantileCont(sorted, 0.25)),
          Some(quantileCont(sorted, 0.5)),
          Some(quantileCont(sorted, 0.75)))
      }
    }
    def bufferEncoder: Encoder[List[Double]] = plainBuffer
    def outputEncoder: Encoder[BoxplotResult] = result
  }

  final case class BoxplotInfoIn(value: java.lang.Double, info: Map[String, String])

  /** `BOXPLOT(val, outlier_info := x)` — the reference macro's THEN
    * branch (ref: custom_types.go:104-119): Tukey whiskers at
    * q1 − 1.5·IQR / q3 + 1.5·IQR, plus the list of {value, info}
    * outliers beyond them. The branch is chosen per group — any non-null
    * info value switches the whole group, exactly the macro's
    * `count(*) FILTER (WHERE outlier_info IS NOT NULL) > 0` condition.
    * Divergence, documented: outliers are sorted by value (DuckDB's
    * `list()` keeps nondeterministic scan order — sorting makes the
    * distributed result reproducible). */
  class BoxplotInfoAgg
      extends Aggregator[BoxplotInfoIn, List[(Double, Map[String, String])], BoxplotResult] {
    def zero: List[(Double, Map[String, String])] = Nil
    def reduce(b: List[(Double, Map[String, String])], a: BoxplotInfoIn): List[(Double, Map[String, String])] =
      if (a == null || a.value == null) b else (a.value.doubleValue(), a.info) :: b
    def merge(b1: List[(Double, Map[String, String])], b2: List[(Double, Map[String, String])]): List[(Double, Map[String, String])] =
      b1 ::: b2
    def finish(b: List[(Double, Map[String, String])]): BoxplotResult = {
      if (b.isEmpty) return BoxplotResult(None, None, Nil, None, None, None)
      val sorted = b.map(_._1).toIndexedSeq.sorted
      val q1 = quantileCont(sorted, 0.25)
      val q2 = quantileCont(sorted, 0.5)
      val q3 = quantileCont(sorted, 0.75)
      if (!b.exists(_._2 != null))
        // no info anywhere in the group → the macro's ELSE branch
        BoxplotResult(Some(sorted.last), Some(sorted.head), Nil,
          Some(q1), Some(q2), Some(q3))
      else {
        val iqr = q3 - q1
        val hi = q3 + 1.5 * iqr
        val lo = q1 - 1.5 * iqr
        val inside = sorted.filter(v => v >= lo && v <= hi)
        val outliers = b.filter(p => p._1 < lo || p._1 > hi)
          .sortBy(_._1)
          .map(p => BoxplotOutlier(p._1, p._2))
        BoxplotResult(
          inside.lastOption, inside.headOption, outliers,
          Some(q1), Some(q2), Some(q3))
      }
    }
    def bufferEncoder: Encoder[List[(Double, Map[String, String])]] = infoBuffer
    def outputEncoder: Encoder[BoxplotResult] = result
  }

  // Encoders.product reflects over the case class each time it is called;
  // every aggregate expression shares these
  private lazy val plainBuffer = encoderFor(Encoders.kryo[List[Double]])
  private lazy val infoBuffer = encoderFor(Encoders.kryo[List[(Double, Map[String, String])]])
  private lazy val result = Encoders.product[BoxplotResult]
  private lazy val plainAgg = new BoxplotAgg
  private lazy val infoAgg = new BoxplotInfoAgg
  private lazy val plainIn = encoderFor(Encoders.DOUBLE)
  private lazy val infoIn = encoderFor(Encoders.product[BoxplotInfoIn])

  /** `BOXPLOT(v)` as `spark.udf.register("BOXPLOT", udaf(…))` builds it,
    * over one aggregator and encoders made once per JVM. */
  val plain: Seq[Expression] => Expression = children =>
    ScalaAggregator(children, plainAgg, plainIn, plainBuffer, nullable = true,
      isDeterministic = true, aggregatorName = Some("BOXPLOT"))

  /** `boxplot_info(v, info)`, likewise. */
  val info: Seq[Expression] => Expression = children =>
    ScalaAggregator(children, infoAgg, infoIn, infoBuffer, nullable = true,
      isDeterministic = true, aggregatorName = Some("boxplot_info"))

  /** The outlier_info branch at SCALE — the oracle CTE's own two-pass
    * shape instead of the UDAF's collect-every-value buffer: exact
    * quartiles via Spark's partial-aggregable `percentile` (map-side
    * combine, no per-group value list anywhere), then one join-back of
    * the rows against the tiny per-group quartile frame (broadcast —
    * one row per group) for whiskers and the outlier list. Only actual
    * outliers are ever collected, bounded by the Tukey fences. Output:
    * groupCols ++ one `bp` struct column matching BoxplotResult field
    * order, so the render layer is untouched. Semantics are
    * BoxplotInfoAgg's exactly: any (value, info) pair with non-null
    * info switches the group to the Tukey branch; whisker min/max are
    * taken over values inside BOTH fences; outliers sort by value.
    * This is the 100 TB form of the dashboard UDAF (ref:
    * custom_types.go:104-119) — same contract, distributed plan. */
  def tukey(df: DataFrame, groupCols: Seq[String], valueCol: String,
      infoCol: Column, outCol: String = "bp"): DataFrame = {
    val v = col(valueCol).cast("double")
    val gcols = groupCols.map(col)
    val q = df.groupBy(gcols: _*).agg(
      percentile(v, lit(0.25)).as("_bq1"),
      percentile(v, lit(0.5)).as("_bq2"),
      percentile(v, lit(0.75)).as("_bq3"),
      (count(when(infoCol.isNotNull && v.isNotNull, 1)) > 0).as("_bhas"))
    val lo = col("_bq1") - lit(1.5) * (col("_bq3") - col("_bq1"))
    val hi = col("_bq3") + lit(1.5) * (col("_bq3") - col("_bq1"))
    // null-safe join-back: GROUP BY emits a result row for a NULL
    // group key (the UDAF path gets it via groupBy too), so the
    // join-back must match it — a plain equi-join would drop it
    val qa = q.select(groupCols.map(c => col(c).as("_bg_" + c)) ++
      Seq(col("_bq1"), col("_bq2"), col("_bq3"), col("_bhas")): _*)
    val joinCond = groupCols.map(c => col(c) <=> col("_bg_" + c))
      .reduceOption(_ && _).getOrElse(lit(true))
    df.join(broadcast(qa), joinCond)
      .drop(groupCols.map("_bg_" + _): _*)
      .withColumn("_bv", v)
      .withColumn("_binfo", infoCol)
      .withColumn("_binside", v >= lo && v <= hi)
      .groupBy((gcols :+ col("_bq1") :+ col("_bq2") :+ col("_bq3") :+ col("_bhas")): _*)
      .agg(
        max(col("_bv")).as("_brawmax"), min(col("_bv")).as("_brawmin"),
        max(when(col("_binside"), col("_bv"))).as("_bwmax"),
        min(when(col("_binside"), col("_bv"))).as("_bwmin"),
        // value-only comparator: maps aren't orderable, so sort_array
        // over the struct would fail analysis; the UDAF sorted by value
        expr("array_sort(" +
          "collect_list(CASE WHEN _bhas AND _bv IS NOT NULL AND NOT _binside " +
          "THEN struct(_bv AS value, _binfo AS info) END), " +
          "(a, b) -> CASE WHEN a.value < b.value THEN -1 " +
          "WHEN a.value > b.value THEN 1 ELSE 0 END)").as("_bout"))
      .select((gcols :+ struct(
        when(col("_bhas"), col("_bwmax")).otherwise(col("_brawmax")).as("max"),
        when(col("_bhas"), col("_bwmin")).otherwise(col("_brawmin")).as("min"),
        when(col("_bhas"), col("_bout"))
          .otherwise(expr("CAST(array() AS ARRAY<STRUCT<value: DOUBLE, info: MAP<STRING,STRING>>>)"))
          .as("outliers"),
        col("_bq1").as("q1"), col("_bq2").as("q2"), col("_bq3").as("q3"))
        .as(outCol)): _*)
  }

  /** `BOXPLOT` and `boxplot_info` in `spark`'s registry; a no-op on a
    * session born with [[graft.GraftExtensions]], which every session is
    * on a classpath holding this engine. The extension also gives every
    * session [[graft.plans.BoxplotScaleRule]]. */
  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.register(spark, "BOXPLOT", "boxplot_info")
}
