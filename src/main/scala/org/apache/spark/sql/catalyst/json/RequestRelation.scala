package org.apache.spark.sql.catalyst.json

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, InterpretedMutableProjection, JoinedRow, NamedExpression, Predicate, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, DeclarativeAggregate, ImperativeAggregate}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation.hasUnevaluableExpr
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LeafNode, LogicalPlan, Project, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{AggregatingAccumulator, LeafExecNode, SparkPlan, SparkStrategy}

import scala.jdk.CollectionConverters._

/** The rows of one request, as compact `UnsafeRow` copies.
  *
  * A plan's `mapExpressions` rebuilds every product field that is an
  * expression or a collection, so a `LocalRelation`'s `Seq` of rows is copied
  * by each analyzer and optimizer rule that maps expressions. This holder is
  * neither, so tree walks carry it as one reference. It compares by identity:
  * two leaves are the same relation only if they share their rows.
  */
final class RequestRows(rows: Array[UnsafeRow]) {
  def length: Int = rows.length
  def toArray: Array[InternalRow] = rows.toArray[InternalRow]
  def foreach(f: UnsafeRow => Unit): Unit = rows.foreach(f)
  def filter(keep: UnsafeRow => Boolean): RequestRows = new RequestRows(rows.filter(keep))
  def map(f: UnsafeRow => UnsafeRow): RequestRows = new RequestRows(rows.map(f))
  lazy val sizeInBytes: Long = rows.iterator.map(_.getSizeInBytes.toLong).sum
  /** Plan strings name the count, never the rows. */
  override def toString: String = s"$length rows"
}

/** A leaf over the rows of one request, decoded on the driver
  * ([[LocalJsonRelation]]).
  *
  * [[FoldRequestRelation]] evaluates filters, projections and aggregates over
  * it on the driver, and [[RequestScan]] plans it as one partition, so a
  * group-by the fold declines needs no exchange. Both are installed in a
  * session by [[install]].
  */
case class RequestRelation(output: Seq[Attribute], rows: RequestRows)
  extends LeafNode with MultiInstanceRelation {

  override def newInstance(): RequestRelation = copy(output = output.map(_.newInstance()))

  override def maxRows: Option[Long] = Some(rows.length.toLong)

  override def computeStats(): Statistics =
    Statistics(sizeInBytes = rows.sizeInBytes, rowCount = Some(rows.length))

  override def simpleString(maxFields: Int): String =
    s"$nodeName ${truncatedString(output, "[", ", ", "]", maxFields)}, $rows"
}

object RequestRelation {
  /** Adds [[FoldRequestRelation]] and [[RequestScan]] to `spark`'s
    * experimental methods unless they are there already.
    */
  def install(spark: SparkSession): Unit = synchronized {
    val methods = spark.experimental
    if (!methods.extraOptimizations.contains(FoldRequestRelation))
      methods.extraOptimizations = methods.extraOptimizations :+ FoldRequestRelation
    if (!methods.extraStrategies.contains(RequestScan))
      methods.extraStrategies = RequestScan +: methods.extraStrategies
  }
}

/** `ConvertToLocalRelation` for [[RequestRelation]]: a `Project` or `Filter`
  * over the leaf becomes a new leaf, evaluated on the driver with the same
  * interpreted projection, `Predicate.create` and guard against unevaluable
  * expressions. An `Aggregate` over the leaf becomes one too (see
  * [[aggregate]]). A plan without the leaf comes back as the same instance.
  */
object FoldRequestRelation extends Rule[LogicalPlan] {
  def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case Project(projectList, RequestRelation(output, rows))
        if !projectList.exists(hasUnevaluableExpr) =>
      RequestRelation(projectList.map(_.toAttribute), rows.map(project(projectList, output)))

    case Filter(condition, RequestRelation(output, rows)) if !hasUnevaluableExpr(condition) =>
      val predicate = Predicate.create(condition, output)
      predicate.initialize(0)
      RequestRelation(output, rows.filter(predicate.eval))

    case Aggregate(grouping, results, RequestRelation(output, rows), _)
        if !grouping.exists(hasUnevaluableExpr) && aggregatesOf(results).forall(foldable) &&
          !results.exists(r => hasUnevaluableExpr(withAggregateResults(r))) =>
      aggregate(grouping, results, output, rows)
  }

  /** An interpreted projection of `exprs` over `input`, copied to UnsafeRows. */
  private def project(exprs: Seq[Expression], input: Seq[Attribute]): InternalRow => UnsafeRow = {
    val projection = new InterpretedMutableProjection(exprs, input)
    projection.initialize(0)
    val toUnsafe = UnsafeProjection.create(exprs.map(_.dataType).toArray)
    r => toUnsafe(projection(r)).copy()
  }

  private def aggregatesOf(results: Seq[NamedExpression]): Seq[AggregateExpression] =
    results.flatMap(_.collect { case a: AggregateExpression => a }).distinct

  private def withAggregateResults(e: Expression): Expression =
    e.transformDown { case a: AggregateExpression => a.resultAttribute }

  /** What `AggregatingAccumulator` evaluates as Spark's aggregate would: a
    * declarative or imperative function over every row of its group, with
    * no DISTINCT or FILTER, in `Complete` mode.
    */
  private def foldable(a: AggregateExpression): Boolean =
    a.mode == Complete && !a.isDistinct && a.filter.isEmpty &&
      (a.aggregateFunction match {
        case _: DeclarativeAggregate | _: ImperativeAggregate => true
        case _ => false
      }) && !a.aggregateFunction.children.exists(hasUnevaluableExpr)

  /** The groups of `rows`, in first-seen order, each aggregated by its own
    * `AggregatingAccumulator` (the one behind `Dataset.observe`), so every
    * function runs its own update and evaluate code. Keys are UnsafeRows of
    * the grouping expressions with NaN and -0.0 normalized, which is what
    * Spark's hash aggregate compares. A grand aggregate over no rows is one
    * group, as in Spark.
    */
  private def aggregate(grouping: Seq[Expression], results: Seq[NamedExpression],
                        output: Seq[Attribute], rows: RequestRows): RequestRelation = {
    val functions = aggregatesOf(results)
    val keyOf = project(grouping.map(NormalizeFloatingNumbers.normalize), output)
    val prototype = AggregatingAccumulator(functions, output)
    val groups = new java.util.LinkedHashMap[UnsafeRow, AggregatingAccumulator]()
    rows.foreach(r => groups.computeIfAbsent(keyOf(r), _ => prototype.copyAndReset()).add(r))
    if (grouping.isEmpty && groups.isEmpty) groups.put(keyOf(InternalRow.empty), prototype)

    // the result expressions over (key ++ aggregate values): each aggregate
    // becomes its result attribute, each grouping expression its key column
    val keys = grouping.map(g => AttributeReference("key", g.dataType, g.nullable)())
    val resultExprs = results.map(r => withAggregateResults(r).transformDown {
      case e if !e.foldable && grouping.exists(_.semanticEquals(e)) =>
        keys(grouping.indexWhere(_.semanticEquals(e)))
    })
    val render = project(resultExprs, keys ++ functions.map(_.resultAttribute))
    val joined = new JoinedRow
    val out = groups.asScala.iterator.map { case (key, acc) => render(joined(key, acc.value)) }
    RequestRelation(results.map(_.toAttribute), new RequestRows(out.toArray))
  }
}

/** Plans a [[RequestRelation]] as [[RequestScanExec]]. */
object RequestScan extends SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RequestRelation(output, rows) => RequestScanExec(output, rows) :: Nil
    case _ => Nil
  }
}

/** A one-partition scan of a request's rows. Like `LocalTableScanExec`, it
  * answers collect, take and tail from driver memory without a job, and its
  * rows are transient: tasks get them from the RDD's partition, not from the
  * plan nodes their closures capture.
  */
case class RequestScanExec(output: Seq[Attribute], @transient rows: RequestRows)
  extends LeafExecNode {
  override def outputPartitioning: Partitioning = SinglePartition

  protected override def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(rows.toArray.toIndexedSeq, 1)

  override def executeCollect(): Array[InternalRow] = rows.toArray
  override def executeTake(limit: Int): Array[InternalRow] = rows.toArray.take(limit)
  override def executeTail(limit: Int): Array[InternalRow] = rows.toArray.takeRight(limit)
}
