package org.apache.spark.sql.graftshim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Zero-cost optimizer boundary between the two halves of a codec plan
  * (an `ext.Multimodal` encode, then a native decode over its bytes).
  *
  * Without it, predicate pushdown drags the decode's header-validity filter
  * down onto the encode projection, and CollapseProject inlines the whole
  * encode expression into every header-byte access (21× in q241): the
  * encode is recomputed per field and the fused stage's generated code
  * grows past Janino's 64 KB method limit into interpreted fallback. A
  * real pipeline has this boundary naturally — encoded assets come back
  * off storage.
  *
  * The node's output is its child's output, and no optimizer rule knows
  * it, so none pushes a filter or merges a projection through it. Column
  * pruning still crosses (the generic pruning case rewrites the child).
  * A filter on derived columns therefore belongs above the barrier: one
  * below it still pushes down into the projections that derive them.
  * The planner strategy plans it to its child, so the executed plan has no
  * extra operator, job, shuffle or materialized state: only the optimized
  * expressions differ.
  */
case class Barrier(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): Barrier =
    copy(child = newChild)
}

object Barrier {
  private object PlanThrough extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case Barrier(child) => planLater(child) :: Nil
      case _ => Nil
    }
  }

  /** `df` behind a [[Barrier]]. Registers the planner strategy on the
    * frame's own session (once), so sessions built without
    * `GraftExtensions` plan it too.
    */
  def apply(df: DataFrame): DataFrame = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val methods = session.experimental
    methods.synchronized {
      if (!methods.extraStrategies.contains(PlanThrough)) {
        methods.extraStrategies = PlanThrough +: methods.extraStrategies
      }
    }
    classic.Dataset.ofRows(session, Barrier(df.queryExecution.analyzed))
  }
}
