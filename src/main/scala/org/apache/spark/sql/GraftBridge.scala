package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Bridge into Spark's private[sql] Column↔Expression converters for
  * graft's custom Catalyst expressions (Spark 4 split Column from
  * Expression; classic.ExpressionUtils is the sanctioned converter but
  * is package-private). Standard pattern for Spark extension libraries.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `df` behind a [[PruneBarrier]]: the optimizer neither prunes
    * columns nor pushes filters into `df`'s plan from above, and the
    * physical plan is `df`'s own (the barrier plans to nothing).
    */
  def barrier(df: DataFrame): DataFrame = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    session.experimental.synchronized {
      val extra = session.experimental.extraStrategies
      if (!extra.contains(PruneBarrierStrategy))
        session.experimental.extraStrategies = PruneBarrierStrategy +: extra
    }
    classic.Dataset.ofRows(session,
      PruneBarrier(df.asInstanceOf[classic.Dataset[Row]].logicalPlan))
  }
}

/** A logical no-op that references every column of its child, so
  * ColumnPruning cannot narrow the child's output, and that no pushdown
  * rule knows, so filters stop above it.
  */
case class PruneBarrier(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): PruneBarrier =
    copy(child = newChild)
}

object PruneBarrierStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PruneBarrier(child) => planLater(child) :: Nil
    case _ => Nil
  }
}
