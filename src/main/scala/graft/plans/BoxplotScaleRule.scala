package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, CollectList, Count, First, Max, Min, Percentile}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.types._

/** Routes the SQL-reachable `boxplot_info` aggregate (the
  * `BOXPLOT(x, outlier_info := y)` dialect target, ref:
  * custom_types.go:104-119) through `Boxplot.tukey`'s distributed
  * shape. The registered UDAF Kryo-collects every group's (value,
  * info) pairs — bounded on the dashboard path (3000-row cap) but
  * unbounded in task SQL, where `SELECT k, BOXPLOT(v, outlier_info
  * := i) FROM huge GROUP BY k` would buffer whole groups. This rule
  * rewrites the logical Aggregate into the two-pass plan the `tukey`
  * helper builds for bp01:
  *
  *   1. a quartile Aggregate over the same child — exact
  *      partial-aggregable `percentile` ×3 plus the has-info flag,
  *      one row per group;
  *   2. a broadcast null-safe join-back of the rows against that
  *      tiny frame;
  *   3. the original Aggregate, with the UDAF call replaced by
  *      builtin max/min/collect_list over the Tukey fences — only
  *      true outliers are ever collected.
  *
  * The original grouping expressions are untouched: group-constant
  * quartile columns are read back through `First(...)` aggregates
  * rather than widened grouping keys, which also preserves the
  * one-row result of a global aggregate over empty input. Other
  * aggregate functions in the same SELECT ride along unchanged (the
  * join-back is 1:1 per row, so the final Aggregate sees exactly the
  * original rows per group).
  *
  * The 1-arg `BOXPLOT(v)` UDAF (the macro's ELSE branch) routes too,
  * and more cheaply: no outlier list means no join-back — the call
  * substitutes IN PLACE for a struct of native max/min/percentile
  * aggregates (all partial-aggregable), so task SQL can never reach a
  * collect-per-group buffer through either registered name. Calls that
  * are DISTINCT, FILTERed, or in a streaming plan stay on the UDAF,
  * which remains registered as the reference implementation
  * (BoxplotTukeySpec pins kernel == UDAF on every branch).
  *
  * Injected into every session by `GraftExtensions` as a post-hoc
  * resolution rule, so the output then flows through the full
  * optimizer. Idempotent: after one application no `boxplot_info`
  * ScalaAggregator remains.
  */
object BoxplotScaleRule extends Rule[LogicalPlan] {

  private def boxplotCall(e: Expression): Option[ScalaAggregator[_, _, _]] =
    e match {
      case sa: ScalaAggregator[_, _, _]
          if sa.agg.isInstanceOf[graft.exprs.Boxplot.BoxplotInfoAgg] &&
            sa.children.length == 2 => Some(sa)
      case _ => None
    }

  /** The 1-arg `BOXPLOT(v)` UDAF (the reference macro's ELSE branch —
    * no outlier list). Unlike the info form it needs NO join-back:
    * max/min/percentile are native partial-aggregable builtins, so the
    * call rewrites in place inside the same Aggregate. */
  private def plainCall(e: Expression): Option[ScalaAggregator[_, _, _]] =
    e match {
      case sa: ScalaAggregator[_, _, _]
          if sa.agg.isInstanceOf[graft.exprs.Boxplot.BoxplotAgg] &&
            sa.children.length == 1 => Some(sa)
      case _ => None
    }

  private def anyCall(e: Expression): Option[ScalaAggregator[_, _, _]] =
    boxplotCall(e).orElse(plainCall(e))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(ge, ae, child, _) if eligible(agg) =>
      rewrite(ge, ae, child)
  }

  private def eligible(agg: Aggregate): Boolean = {
    if (agg.isStreaming) return false
    var found = false
    var blocked = false
    agg.aggregateExpressions.foreach(_.foreach {
      case ax: AggregateExpression =>
        anyCall(ax.aggregateFunction).foreach { _ =>
          found = true
          if (ax.isDistinct || ax.filter.isDefined) blocked = true
        }
      case sa: ScalaAggregator[_, _, _] =>
        // a boxplot call outside a plain AggregateExpression wrapper
        // (shouldn't occur) — leave the plan alone rather than guess
        if (anyCall(sa).isDefined && !agg.aggregateExpressions.exists(_.exists {
            case ax: AggregateExpression => ax.aggregateFunction eq sa
            case _ => false
          })) blocked = true
      case _ => ()
    })
    found && !blocked
  }

  private def aggE(f: aggregate.AggregateFunction): AggregateExpression =
    f.toAggregateExpression()

  private val outliersType: DataType = ArrayType(StructType(Seq(
    StructField("value", DoubleType, nullable = false),
    StructField("info", MapType(StringType, StringType)))))

  /** The macro's ELSE branch as builtin aggregates: max/min/percentile
    * are natively partial-aggregable, so the 1-arg call substitutes in
    * place — no second pass. Matches BoxplotAgg.finish: nulls skipped
    * by the builtins, empty group → null scalars + EMPTY outlier list. */
  private def plainStruct(vRaw: Expression): Expression = {
    val v = Cast(vRaw, DoubleType)
    def pct(p: Double) = aggE(Percentile(v, Literal(p), Literal(1L)))
    CreateNamedStruct(Seq(
      Literal("max"), aggE(Max(v)),
      Literal("min"), aggE(Min(v)),
      Literal("outliers"), Literal.create(Seq.empty[Any], outliersType),
      Literal("q1"), pct(0.25), Literal("q2"), pct(0.5),
      Literal("q3"), pct(0.75)))
  }

  private def rewrite(ge: Seq[Expression], ae0: Seq[NamedExpression],
      child: LogicalPlan): LogicalPlan = {
    // 1-arg calls first: in-place substitution, nothing else changes
    val ae = ae0.map { ne =>
      ne.transformUp {
        case ax: AggregateExpression =>
          plainCall(ax.aggregateFunction) match {
            case Some(sa) => plainStruct(sa.children.head)
            case None => ax
          }
      }.asInstanceOf[NamedExpression]
    }
    // distinct boxplot_info calls by canonicalized (value, info) inputs
    // — repeated identical calls share one quartile computation
    val calls = scala.collection.mutable.LinkedHashMap
      .empty[Seq[Expression], (Expression, Expression)]
    ae.foreach(_.foreach {
      case ax: AggregateExpression =>
        boxplotCall(ax.aggregateFunction).foreach { sa =>
          calls.getOrElseUpdate(sa.children.map(_.canonicalized),
            (sa.children(0), sa.children(1)))
        }
      case _ => ()
    })

    if (calls.isEmpty) return Aggregate(ge, ae, child)

    // pass 1: per-group quartiles + has-info flag (BoxplotInfoAgg's
    // branch condition: any pair with non-null info AND non-null value)
    val bgAliases = ge.zipWithIndex.map { case (g, i) => Alias(g, s"_bg_$i")() }
    val qAliases = calls.values.zipWithIndex.flatMap { case ((vRaw, info), k) =>
      val v = Cast(vRaw, DoubleType)
      def pct(p: Double, nm: String) =
        Alias(aggE(Percentile(v, Literal(p), Literal(1L))), nm)()
      Seq(
        pct(0.25, s"_bq1_$k"), pct(0.5, s"_bq2_$k"), pct(0.75, s"_bq3_$k"),
        Alias(GreaterThan(
          aggE(Count(Seq(CaseWhen(Seq((
            And(IsNotNull(info), IsNotNull(v)), Literal(1))), None)))),
          Literal(0L)), s"_bhas_$k")())
    }.toSeq
    val qAgg = Aggregate(ge, bgAliases ++ qAliases, child)
    val qAttr = qAliases.map(a => a.name -> a.toAttribute).toMap

    // pass 2: null-safe join-back (GROUP BY keeps a NULL-keyed group);
    // the quartile frame is one row per group — broadcast it
    val cond = ge.zip(bgAliases).map { case (g, a) =>
      EqualNullSafe(g, a.toAttribute): Expression
    }.reduceOption(And(_, _)).getOrElse(Literal.TrueLiteral)
    val join = Join(child, qAgg, Inner, Some(cond),
      JoinHint(None, Some(HintInfo(strategy = Some(BROADCAST)))))

    // pass 3: the original Aggregate with each UDAF call swapped for
    // the builtin-aggregate struct over the Tukey fences
    val structOf = calls.keys.zipWithIndex.map { case (key, k) =>
      val (vRaw, info) = calls(key)
      val v = Cast(vRaw, DoubleType)
      val q1 = qAttr(s"_bq1_$k"); val q2 = qAttr(s"_bq2_$k")
      val q3 = qAttr(s"_bq3_$k"); val has = qAttr(s"_bhas_$k")
      val iqr = Subtract(q3, q1)
      val lo = Subtract(q1, Multiply(Literal(1.5), iqr))
      val hi = Add(q3, Multiply(Literal(1.5), iqr))
      val inside = And(GreaterThanOrEqual(v, lo), LessThanOrEqual(v, hi))
      val insideV = CaseWhen(Seq((inside, v)), None)
      val elem = CreateNamedStruct(Seq(
        Literal("value"), KnownNotNull(v), Literal("info"), info))
      val outCond = And(And(has, IsNotNull(v)), Not(inside))
      val collected = aggE(CollectList(CaseWhen(Seq((outCond, elem)), None), 0, 0))
      val sorted = ArraySort(collected, valueComparator(elem.dataType), false)
      // group-constant columns re-enter through First so the final
      // grouping keys stay the original ones
      val fq1 = aggE(First(q1, ignoreNulls = false))
      val fq2 = aggE(First(q2, ignoreNulls = false))
      val fq3 = aggE(First(q3, ignoreNulls = false))
      val fhas = aggE(First(has, ignoreNulls = false))
      key -> CreateNamedStruct(Seq(
        Literal("max"), If(fhas, aggE(Max(insideV)), aggE(Max(v))),
        Literal("min"), If(fhas, aggE(Min(insideV)), aggE(Min(v))),
        Literal("outliers"),
        If(fhas, sorted, Literal.create(Seq.empty[Any], sorted.dataType)),
        Literal("q1"), fq1, Literal("q2"), fq2, Literal("q3"), fq3))
    }.toMap

    val newAe = ae.map { ne =>
      ne.transformUp {
        case ax: AggregateExpression =>
          boxplotCall(ax.aggregateFunction) match {
            case Some(sa) => structOf(sa.children.map(_.canonicalized))
            case None => ax
          }
      }.asInstanceOf[NamedExpression]
    }
    Aggregate(ge, newAe, join)
  }

  /** The UDAF sorts outliers by value only (maps are not orderable). */
  private def valueComparator(elemType: DataType): LambdaFunction = {
    val a = NamedLambdaVariable("a", elemType, nullable = true)
    val b = NamedLambdaVariable("b", elemType, nullable = true)
    val av = GetStructField(a, 0, Some("value"))
    val bv = GetStructField(b, 0, Some("value"))
    LambdaFunction(
      CaseWhen(Seq(
        (LessThan(av, bv), Literal(-1)),
        (GreaterThan(av, bv), Literal(1))), Some(Literal(0))),
      Seq(a, b))
  }
}
