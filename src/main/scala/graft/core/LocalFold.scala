package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, GenericInternalRow,
  InterpretedOrdering, InterpretedUnsafeProjection, JoinedRow, NamedExpression, Unevaluable, UnsafeRow, UnscaledValue}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Average,
  Count, DeclarativeAggregate, Max, Min, Sum}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.LOCAL_RELATION
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}

import scala.collection.mutable

/** An optimizer rule that evaluates a global sort, an aggregate or a union
  * of rows already on the driver there, and replaces it with a
  * `LocalRelation`. Spark folds only projections, filters and limits over
  * a `LocalRelation` (`ConvertToLocalRelation`), so without it a `count`,
  * `orderBy`, `groupBy`, `distinct` or `union` of a driver-held answer
  * (`GraftService`'s `query` and `explore` below the size rule) plans a
  * shuffle and runs jobs.
  *
  * A node folds when its inputs are all non-streaming `LocalRelation`s of
  * fewer than `rowLimit` rows in total and every expression it evaluates
  * is deterministic and evaluable on the driver. An aggregate folds when
  * each of its functions answers the same in any row order: `count`,
  * `min`, `max`, `sum` of integral or decimal input, and `avg` of decimal
  * input or of integers whose double sum below `rowLimit` rows is exact
  * (at most 32 bits, or the unscaled value of a decimal of at most 10
  * digits, as Spark rewrites a small decimal's `avg`). Anything else keeps
  * Spark's plan: a double `sum` or `avg`, an `avg` of longs,
  * `first`/`last`, `collect_*`, a distinct or filtered aggregate,
  * `sortWithinPartitions`, a join, any other leaf. (A `min` or `max` over
  * a group holding both -0.0 and 0.0 keeps the zero it meets first, as
  * Spark's does in whatever order its partitions arrive.)
  *
  * It evaluates with Spark's interpreted machinery: bound expressions,
  * `InterpretedOrdering` for a sort, and the declarative aggregate buffers
  * (`initialValues`, `updateExpressions`, `evaluateExpression`) with the
  * grouping keys normalised (`NormalizeFloatingNumbers`) and compared as
  * `UnsafeRow`s, as Spark's hash aggregate compares them. After a fold
  * `ConvertToLocalRelation` runs again, so the projections, filters and
  * limits above a folded node fold in the same fixed-point batch. The rule
  * changes where an answer is computed, not what it is.
  */
class LocalFold private[core] (rowLimit: Long) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val folded = plan.transformUpWithPruning(_.containsPattern(LOCAL_RELATION)) {
      case s: Sort if s.global && evaluable(s.order.map(_.child)) =>
        fold(s, s.child)(_.sorted(new InterpretedOrdering(s.order, s.child.output)))
      case a @ PhysicalAggregation(keys, aggs, results, child) if foldable(keys, aggs, results) =>
        fold(a, child)(aggregate(keys, aggs, results, child.output, _))
      case u: Union => fold(u, u.children: _*)(identity)
    }
    if (folded eq plan) plan else ConvertToLocalRelation(folded)
  }

  /** `node` as a `LocalRelation` of `eval` over its inputs' rows, or
    * `node` itself unless those inputs are small local relations.
    */
  private def fold(node: LogicalPlan, inputs: LogicalPlan*)(
      eval: Seq[InternalRow] => Seq[InternalRow]): LogicalPlan = {
    val local = inputs.collect { case r: LocalRelation if !r.isStreaming => r.data }
    if (local.size < inputs.size || local.map(_.size.toLong).sum >= rowLimit) node
    else LocalRelation(node.output, eval(local.flatten))
  }

  /** Deterministic, and nothing in it that only an executor evaluates. */
  private def evaluable(es: Seq[Expression]): Boolean =
    es.forall(e => e.deterministic && !e.exists {
      case _: Attribute => false
      case _: Unevaluable => true
      case _ => false
    })

  private def foldable(keys: Seq[NamedExpression], aggs: Seq[AggregateExpression],
      results: Seq[NamedExpression]): Boolean =
    aggs.forall(a => !a.isDistinct && a.filter.isEmpty && orderInsensitive(a.aggregateFunction)) &&
      evaluable(keys ++ aggs.flatMap(_.aggregateFunction.children) ++ results) &&
      keys.forall(k => UnsafeRowUtils.isBinaryStable(k.dataType))

  private def orderInsensitive(f: AggregateFunction): Boolean = f match {
    case _: Count | _: Min | _: Max => true
    case s: Sum => s.child.dataType match {
      case ByteType | ShortType | IntegerType | LongType | _: DecimalType => true
      case _ => false
    }
    case a: Average =>
      a.child.dataType.isInstanceOf[DecimalType] || magnitude(a.child).exists(_ * rowLimit <= (BigInt(1) << 53))
    case _ => false
  }

  /** A bound on the magnitude of an integral input, where its type gives
    * one: what `avg` needs to sum in doubles exactly.
    */
  private def magnitude(e: Expression): Option[BigInt] = (e, e.dataType) match {
    case (UnscaledValue(d), _) => Some(BigInt(10).pow(d.dataType.asInstanceOf[DecimalType].precision))
    case (_, ByteType) => Some(BigInt(1) << 7)
    case (_, ShortType) => Some(BigInt(1) << 15)
    case (_, IntegerType) => Some(BigInt(1) << 31)
    case _ => None
  }

  /** One output row per group of `rows`, in first-seen group order; one
    * row from no rows when there are no grouping keys, as Spark answers.
    */
  private def aggregate(keys: Seq[NamedExpression], aggs: Seq[AggregateExpression],
      results: Seq[NamedExpression], input: Seq[Attribute], rows: Seq[InternalRow]): Seq[InternalRow] = {
    def bind(es: Seq[Expression], to: Seq[Attribute]) = BindReferences.bindReferences[Expression](es, to)
    val fns = aggs.map(_.aggregateFunction.asInstanceOf[DeclarativeAggregate])
    val buffer = fns.flatMap(_.aggBufferAttributes)
    val initial = fns.flatMap(_.initialValues)
    val update = bind(fns.flatMap(_.updateExpressions), buffer ++ input)
    val evaluate = bind(fns.map(_.evaluateExpression), buffer)
    val output = bind(results, keys.map(_.toAttribute) ++ aggs.map(_.resultAttribute))
    val key = InterpretedUnsafeProjection.createProjection(bind(keys.map(ColumnBridge.normalizeFloats), input))
    def eval(es: Seq[Expression], row: InternalRow): InternalRow = new GenericInternalRow(es.map(_.eval(row)).toArray)

    val zero = eval(initial, InternalRow.empty)
    val groups = mutable.LinkedHashMap.empty[UnsafeRow, InternalRow]
    if (keys.isEmpty) groups(key(InternalRow.empty).copy()) = zero
    for (row <- rows) {
      val k = key(row).copy()
      groups(k) = eval(update, new JoinedRow(groups.getOrElse(k, zero), row))
    }
    groups.iterator.map { case (k, buf) => eval(output, new JoinedRow(k, eval(evaluate, buf))) }.toVector
  }
}

/** The rule at the size rule of `Loops.RowsPerPartition` rows. */
object LocalFold extends LocalFold(Loops.RowsPerPartition) {

  /** Adds the rule to `session`'s extra optimizations unless it is there,
    * after any rule already there. Idempotent and thread-safe; every
    * `GraftService` calls it, which reaches sessions this program does not
    * build.
    */
  def install(session: SparkSession): Unit = install(session, this)

  private[core] def install(session: SparkSession, rule: LocalFold): Unit = {
    val methods = session.experimental
    methods.synchronized {
      if (!methods.extraOptimizations.contains(rule))
        methods.extraOptimizations = methods.extraOptimizations :+ rule
    }
  }
}
