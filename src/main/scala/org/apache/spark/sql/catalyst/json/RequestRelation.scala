package org.apache.spark.sql.catalyst.json

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, InterpretedMutableProjection, Predicate, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation.hasUnevaluableExpr
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, Project, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}

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
  def filter(keep: UnsafeRow => Boolean): RequestRows = new RequestRows(rows.filter(keep))
  def map(f: UnsafeRow => UnsafeRow): RequestRows = new RequestRows(rows.map(f))
  lazy val sizeInBytes: Long = rows.iterator.map(_.getSizeInBytes.toLong).sum
  /** Plan strings name the count, never the rows. */
  override def toString: String = s"$length rows"
}

/** A leaf over the rows of one request, decoded on the driver
  * ([[LocalJsonRelation]]).
  *
  * [[FoldRequestRelation]] evaluates filters and projections over it on the
  * driver, and [[RequestScan]] plans it as one partition, so a group-by over
  * it needs no exchange. Both are installed in a session by [[install]].
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
  * expressions. A plan without the leaf comes back as the same instance.
  */
object FoldRequestRelation extends Rule[LogicalPlan] {
  def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case Project(projectList, RequestRelation(output, rows))
        if !projectList.exists(hasUnevaluableExpr) =>
      val projection = new InterpretedMutableProjection(projectList, output)
      projection.initialize(0)
      val toUnsafe = UnsafeProjection.create(projectList.map(_.dataType).toArray)
      RequestRelation(projectList.map(_.toAttribute), rows.map(r => toUnsafe(projection(r)).copy()))

    case Filter(condition, RequestRelation(output, rows)) if !hasUnevaluableExpr(condition) =>
      val predicate = Predicate.create(condition, output)
      predicate.initialize(0)
      RequestRelation(output, rows.filter(predicate.eval))
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
