package graft.serde

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** A logical node over an Avro decode `Project` that filter push-down
  * does not cross.
  *
  * Without it, `PushPredicateThroughNonJoin` moves the chain's filter
  * below the decode and substitutes the decode alias into it, once for
  * each `value.*` reference, so every kept record is decoded again for
  * each reference. With it, the chain's filter reads the decoded column
  * the one `Project` computed. Column pruning still passes through (it
  * places a `Project` under any node that inherits its child's output),
  * and the node plans as its child, so the physical plan differs only
  * by the copies it no longer holds. */
final case class DecodeBarrier(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): DecodeBarrier =
    copy(child = newChild)
}

object DecodeBarrier {

  /** Plans a [[DecodeBarrier]] as its child. */
  private object PassThrough extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case DecodeBarrier(child) => planLater(child) :: Nil
      case _ => Nil
    }
  }

  /** `df` under a barrier. Installs the planning strategy on `df`'s own
    * session the first time, so any session plans the node, including
    * the clone a streaming query runs on (it copies the strategies). */
  def over(df: DataFrame): DataFrame = {
    install(df.sparkSession)
    GraftColumnBridge.ofRows(df.sparkSession, DecodeBarrier(df.queryExecution.logical))
  }

  private def install(spark: SparkSession): Unit = {
    val methods = spark.experimental
    methods.synchronized {
      if (!methods.extraStrategies.contains(PassThrough))
        methods.extraStrategies = methods.extraStrategies :+ PassThrough
    }
  }
}
