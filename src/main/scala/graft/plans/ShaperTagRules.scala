package graft.plans

import graft.types.ShaperTagged
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

import scala.util.control.NonFatal

/** Keeps shaper type tags (`::LABEL`, `::XAXIS`, … — [[ShaperTagged]])
  * from costing Spark work. DuckDB evaluates its UNION-typed casts
  * in-process for almost nothing (ref: custom_types.go:17-84); on Spark
  * two plan shapes the tags produce pay a fixed or per-row price:
  *
  *  1. Constant-only statements (`SELECT 'x'::LABEL`, `'a'::DROPDOWN
  *     UNION ALL 'b'::DROPDOWN`) optimize to `Project` over
  *     `OneRowRelation`, which Spark's own `ConvertToLocalRelation`
  *     does not fold, so every `collect()` launches a job. Here the
  *     projection is evaluated once during optimization, a by-position
  *     `UNION ALL` of such relations merges into one, and a `Limit`
  *     over the result is cut to size — the plan becomes a single
  *     `LocalRelation`, answered by `LocalTableScanExec` with no job.
  *     Non-deterministic, unevaluable or subquery-bearing lists stay as
  *     they are, and so does a list whose evaluation throws: the error
  *     then surfaces at execution exactly as before.
  *  2. A tag used as a grouping key (`date_trunc(…)::XAXIS … GROUP BY
  *     ALL`) becomes a struct key computed for every input row. The
  *     Aggregate groups on the tag's member value instead (the child,
  *     or its cast to the member type, so keys that collide after the
  *     cast still merge) and re-tags the grouped value in its output,
  *     keeping the output attributes' ids. Exact: a single-field struct
  *     is injective in its field, so the groups are the same groups.
  *
  * Output rows, schema and field metadata are unchanged. Injected into
  * every session by `GraftExtensions`. Idempotent.
  */
object ShaperTagRules extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(list, _: OneRowRelation) if list.forall(evaluableOnce) =>
      evaluate(p).getOrElse(p)
    case u @ Union(children, false, false)
        if children.forall(c => c.isInstanceOf[LocalRelation] && !c.isStreaming) =>
      LocalRelation(u.output, children.flatMap(_.asInstanceOf[LocalRelation].data))
    case Limit(IntegerLiteral(n), l: LocalRelation) if !l.isStreaming =>
      l.copy(data = l.data.take(n))
    case agg @ Aggregate(_, _, p: Project, _) if !agg.isStreaming =>
      groupOnMembers(agg, p)
  }

  private def evaluableOnce(e: Expression): Boolean =
    e.deterministic && !SubqueryExpression.hasSubquery(e) &&
      !e.exists(_.isInstanceOf[Unevaluable])

  /** The one row, evaluated the way `ConvertToLocalRelation` does. */
  private def evaluate(p: Project): Option[LocalRelation] =
    try {
      val projection = new InterpretedMutableProjection(p.projectList, Nil)
      projection.initialize(0)
      Some(LocalRelation(p.output, Seq(projection(InternalRow.empty).copy())))
    } catch { case NonFatal(_) => None }

  private def groupOnMembers(agg: Aggregate, p: Project): LogicalPlan = {
    val groupedIds = agg.groupingExpressions.collect { case a: Attribute => a.exprId }.toSet
    // grouped-on tag alias → (its raw member alias, the re-tag over that);
    // a re-tag is only valid if it lands on the same union member
    val raws: Map[ExprId, (Alias, ShaperTagged)] = p.projectList.flatMap {
      case a @ Alias(st: ShaperTagged, name) if groupedIds.contains(a.exprId) &&
          st.resolved && st.member.resolved =>
        val raw = Alias(st.member, name)()
        val retag = ShaperTagged(st.typeName, raw.toAttribute)
        if (retag.resolved && retag.dataType == st.dataType) Some(a.exprId -> (raw, retag))
        else None
      case _ => None
    }.toMap
    if (raws.isEmpty) return agg

    def retagRefs(e: Expression): Expression = e.transform {
      case a: Attribute if raws.contains(a.exprId) => raws(a.exprId)._2
    }
    val newList = p.projectList.map {
      case a: Alias if raws.contains(a.exprId) => raws(a.exprId)._1
      case ne => ne
    }
    val newGe = agg.groupingExpressions.map {
      case a: Attribute if raws.contains(a.exprId) => raws(a.exprId)._1.toAttribute
      case e => retagRefs(e)
    }
    val newAe = agg.aggregateExpressions.map {
      case a: Attribute if raws.contains(a.exprId) =>
        Alias(raws(a.exprId)._2, a.name)(a.exprId, a.qualifier, Some(a.metadata))
      case ne => retagRefs(ne).asInstanceOf[NamedExpression]
    }
    agg.copy(groupingExpressions = newGe, aggregateExpressions = newAe,
      child = p.copy(projectList = newList))
  }
}
