package graft.interp

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import scala.collection.mutable

/** A statement of the shape
  * `[Project/Filter/Sort/Limit] → Aggregate → [Filter/Project] →` one
  * unpartitioned Parquet file relation, whose every aggregate is `count`,
  * `count(col)`, `min`, `max` or `sum` over an integral type, kept as
  * per-group state so that an append is answered from the state plus the
  * new files (LMFAO's decomposable partial aggregates).
  *
  * For these five functions the final value is also the aggregate buffer,
  * so a full run's ordinary aggregate output is the mergeable state. New
  * rows go through the below-aggregate operators, the grouping keys and
  * each function's `initialValues`/`updateExpressions`, and are folded
  * into the state with the function's own `mergeExpressions` — Spark's
  * NULL and ANSI-overflow semantics, not a re-implementation. The
  * operators above the aggregate then run on the driver over the groups
  * in grouping-key order, so a full run and an incremental answer share
  * one path and agree row for row. Everything here is evaluated with
  * interpreted expressions: nothing is compiled per statement.
  *
  * Never qualifies: DISTINCT or FILTER aggregates, other aggregate
  * functions, float or decimal sums, `try_sum`, subqueries,
  * nondeterministic or unevaluable expressions, joins, unions, windows,
  * partitioned or bucketed relations, and schemas the vectorized Parquet
  * reader does not read.
  */
private[graft] final class IncrementalAggregate private (
    top: Seq[LogicalPlan], agg: Aggregate, relation: LogicalRelation, fs: HadoopFsRelation) {

  import IncrementalAggregate._

  private val aggExprs: Seq[AggregateExpression] = {
    val seen = mutable.LinkedHashMap.empty[Expression, AggregateExpression]
    agg.aggregateExpressions.foreach(_.foreach {
      case ae: AggregateExpression => seen.getOrElseUpdate(ae.canonicalized, ae)
      case _ =>
    })
    seen.values.toSeq
  }
  private val functions = aggExprs.map(_.aggregateFunction.asInstanceOf[DeclarativeAggregate])
  private val buffer = functions.flatMap(_.aggBufferAttributes)
  private val groupAliases = agg.groupingExpressions.zipWithIndex.map { case (e, i) => Alias(e, s"_g$i")() }
  private val valueAliases = aggExprs.zipWithIndex.map { case (e, i) => Alias(e, s"_a$i")() }
  private val keys = groupAliases.map(_.toAttribute)
  private val values = valueAliases.map(_.toAttribute)

  /** The aggregate's output over a state row (key ++ values), the way
    * Spark's planner rewrites result expressions. */
  private val result: Seq[Expression] = agg.aggregateExpressions.map(_.transformDown {
    case ae: AggregateExpression => values(aggExprs.indexWhere(_.canonicalized == ae.canonicalized))
    case e if !e.foldable && agg.groupingExpressions.exists(_.semanticEquals(e)) =>
      keys(agg.groupingExpressions.indexWhere(_.semanticEquals(e)))
  })

  private val keyOrder = new InterpretedOrdering(keys.zipWithIndex.map { case (k, i) =>
    SortOrder(BoundReference(i, k.dataType, k.nullable), Ascending)
  })

  /** The state of all files, from one Spark collect of the aggregate with
    * each partition cut at `MaxGroups + 1` groups; None past `MaxGroups`. */
  def fullState(spark: SparkSession): Option[State] = {
    val plan = LocalLimit(Literal(MaxGroups + 1), agg.copy(aggregateExpressions = groupAliases ++ valueAliases))
    val qe = new QueryExecution(spark, plan)
    val rows = SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
    if (rows.length > MaxGroups) None
    else {
      val key = unsafe(keys, keys ++ values)
      val value = unsafe(values, keys ++ values)
      Some(ordered(rows.iterator.map(r => key(r).copy() -> value(r).copy())))
    }
  }

  /** `old` advanced by the rows of `files`, read on the driver. Throws
    * whatever the evaluation throws (an ANSI overflow, say); the caller
    * then runs the statement in full. */
  def advance(spark: SparkSession, old: State, files: Seq[(String, Long, Long)]): State = {
    val below = belowChain()
    val key = unsafe(agg.groupingExpressions, agg.child.output)
    val update = InterpretedMutableProjection.createProjection(
      bind(functions.flatMap(_.updateExpressions), buffer ++ agg.child.output))
    val init = InterpretedMutableProjection.createProjection(functions.flatMap(_.initialValues))
    def initial(): InternalRow = init.target(newBuffer())(InternalRow.empty)
    val delta = mutable.LinkedHashMap.empty[UnsafeRow, InternalRow]
    val joined = new JoinedRow
    DriverParquet.foreach(spark, DataTypeUtils.fromAttributes(relation.output), fs.options, files) { raw =>
      val row = below(raw)
      if (row != null) {
        val input = row.copy()
        val k = key(input)
        val buf = delta.getOrElse(k, {
          val b = initial()
          delta(k.copy()) = b
          b
        })
        update.target(buf)(joined(buf, input))
      }
    }
    val merge = InterpretedMutableProjection.createProjection(
      bind(functions.flatMap(_.mergeExpressions), buffer ++ functions.flatMap(_.inputAggBufferAttributes)))
    val merged = mutable.LinkedHashMap.from(old.groups)
    delta.foreach { case (k, v) =>
      val into = merged.getOrElse(k, initial())
      merged(k) = merge.target(newBuffer())(joined(into, v))
    }
    ordered(merged.iterator)
  }

  /** The statement's rows from `state`: the aggregate's output, then the
    * operators above it. */
  def rows(state: State): Seq[InternalRow] = {
    val out = unsafe(result, keys ++ values)
    val joined = new JoinedRow
    val grouped: Seq[InternalRow] = state.groups.map { case (k, v) => out(joined(k, v)).copy() }
    top.reverse.foldLeft(grouped) {
      case (rows, Project(list, child)) =>
        val p = unsafe(list, child.output)
        rows.map(p(_).copy())
      case (rows, Filter(condition, child)) =>
        val p = predicate(condition, child.output)
        rows.filter(p.eval)
      case (rows, s: Sort) => rows.sorted(new InterpretedOrdering(s.order, s.child.output))
      case (rows, GlobalLimit(IntegerLiteral(n), _)) => rows.take(n)
      case (rows, LocalLimit(IntegerLiteral(n), _)) => rows.take(n)
      case (_, other) => throw new IllegalStateException(s"not a driver operator: ${other.nodeName}")
    }
  }

  private def newBuffer() = new SpecificInternalRow(buffer.map(_.dataType))

  private def ordered(groups: Iterator[(UnsafeRow, InternalRow)]): State =
    State(groups.toVector.sortWith((a, b) => keyOrder.compare(a._1, b._1) < 0))

  /** The Filter/Project chain between the relation and the aggregate as
    * one function; null for a row a Filter drops. */
  private def belowChain(): InternalRow => InternalRow = {
    val steps = Iterator.iterate(agg.child)(_.children.head).takeWhile(_ ne relation).toSeq.reverse.map {
      case Project(list, child) =>
        val p = unsafe(list, child.output)
        (r: InternalRow) => p(r): InternalRow
      case Filter(condition, child) =>
        val p = predicate(condition, child.output)
        (r: InternalRow) => if (p.eval(r)) r else null
      case other => throw new IllegalStateException(s"not a driver operator: ${other.nodeName}")
    }
    r => steps.foldLeft(r)((row, step) => if (row == null) null else step(row))
  }
}

private[graft] object IncrementalAggregate {

  /** Groups kept as state. The state lives in the result cache beside the
    * capped rows; past this many groups it would crowd out other entries
    * and a driver-side top-N over it stops being cheaper than Spark's, so
    * such a statement runs in full every time. */
  val MaxGroups = 10000

  /** New bytes read on the driver per answer. Ingest appends files of a
    * few kilobytes per batch; past a few megabytes a single-threaded
    * driver read stops beating a parallel scan's fixed cost of about
    * 100 ms, so a larger delta runs the statement in full. */
  val MaxDeltaBytes: Long = 4L << 20

  /** Per-group state in grouping-key order: each group's key and its
    * aggregate values (which, for the five functions, are the buffers). */
  final case class State(groups: Vector[(UnsafeRow, InternalRow)])

  /** The incremental form of an optimized plan, when it has one. */
  def of(plan: LogicalPlan, conf: SQLConf): Option[IncrementalAggregate] = {
    val top = Iterator.iterate(plan)(_.children.head).takeWhile(topOperator).toSeq
    (if (top.isEmpty) plan else top.last.children.head) match {
      case agg: Aggregate if !agg.isStreaming &&
          agg.groupingExpressions.forall(e => evaluable(e) && RowOrdering.isOrderable(e.dataType)) &&
          agg.aggregateExpressions.forall(aggregateOutput) =>
        Iterator.iterate(agg.child)(_.children.head).dropWhile(belowOperator).next() match {
          case r @ LogicalRelation(fs: HadoopFsRelation, _, _, false, _)
              if fs.fileFormat.isInstanceOf[ParquetFileFormat] && fs.partitionSchema.isEmpty &&
                fs.bucketSpec.isEmpty && r.output.map(_.name) == fs.dataSchema.map(_.name) &&
                DriverParquet.supports(conf, DataTypeUtils.fromAttributes(r.output)) =>
            Some(new IncrementalAggregate(top, agg, r, fs))
          case _ => None
        }
      case _ => None
    }
  }

  private def topOperator(node: LogicalPlan): Boolean = node match {
    case Project(list, _) => list.forall(evaluable)
    case Filter(condition, _) => evaluable(condition)
    case s: Sort => s.global && s.order.forall(o => evaluable(o.child))
    case GlobalLimit(IntegerLiteral(_), _) | LocalLimit(IntegerLiteral(_), _) => true
    case _ => false
  }

  private def belowOperator(node: LogicalPlan): Boolean = node match {
    case Project(list, _) => list.forall(evaluable)
    case Filter(condition, _) => evaluable(condition)
    case _ => false
  }

  /** Deterministic and evaluable on the driver once its attributes are
    * bound, with no aggregate. */
  private def evaluable(e: Expression): Boolean =
    e.deterministic && !e.exists(unevaluable)

  private def unevaluable(e: Expression): Boolean = e match {
    case _: Attribute => false
    case _ => e.isInstanceOf[Unevaluable] || e.isInstanceOf[SubqueryExpression]
  }

  /** An aggregate output expression: evaluable around mergeable aggregates. */
  private def aggregateOutput(e: Expression): Boolean = e match {
    case ae: AggregateExpression => mergeable(ae)
    case _ => !unevaluable(e) && e.deterministic && e.children.forall(aggregateOutput)
  }

  private def mergeable(ae: AggregateExpression): Boolean =
    ae.mode == Complete && !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
      case f @ (_: Count | _: Min | _: Max) => finalIsBuffer(f.asInstanceOf[DeclarativeAggregate])
      case s: Sum => (s.child.dataType match {
        case ByteType | ShortType | IntegerType | LongType => s.evalContext.evalMode != EvalMode.TRY
        case _ => false
      }) && finalIsBuffer(s)
      case _ => false
    })

  /** The function's final value is its single buffer value, so a final
    * value can be merged as a buffer. */
  private def finalIsBuffer(f: DeclarativeAggregate): Boolean =
    f.children.forall(evaluable) && f.aggBufferAttributes.size == 1 &&
      f.evaluateExpression.semanticEquals(f.aggBufferAttributes.head) &&
      f.aggBufferAttributes.head.dataType == f.dataType

  private def bind[A <: Expression](exprs: Seq[A], input: Seq[Attribute]): Seq[A] =
    BindReferences.bindReferences(exprs, AttributeSeq(input))

  private def unsafe(exprs: Seq[Expression], input: Seq[Attribute]): UnsafeProjection = {
    val p = InterpretedUnsafeProjection.createProjection(bind(exprs, input))
    p.initialize(0)
    p
  }

  private def predicate(condition: Expression, input: Seq[Attribute]): BasePredicate = {
    val p = InterpretedPredicate(BindReferences.bindReference(condition, AttributeSeq(input)))
    p.initialize(0)
    p
  }
}
