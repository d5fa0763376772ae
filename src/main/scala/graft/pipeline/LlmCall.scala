package graft.pipeline

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, BoundReference,
  GenericInternalRow, InterpretedUnsafeProjection, JoinedRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.unsafe.types.UTF8String

/** The LLM boundary as one logical plan node: appends `completion` (a
  * nullable string) to every child row by sending the row's `messages`
  * conversation (`ARRAY<STRUCT<role, content>>`) to `model`, `batchSize`
  * conversations per [[ChatModel.Model.complete]] call.
  *
  * Because the call is a node, an LLM column is planned inside the action
  * that consumes it, like any other column: no SQL execution of its own,
  * no `Row` encoder round trip, no opaque `LogicalRDD` between it and the
  * rest of the plan. The optimizer treats the node as a barrier (no filter
  * is pushed through it), but column pruning reaches below it.
  *
  * A re-executed plan re-sends its calls, exactly like any other plan
  * node recomputes; callers that run more than one action over an LLM
  * column materialize it first (see [[Inference]]).
  */
case class LlmCall(model: ChatModel.Model, messages: Attribute, completion: Attribute,
                   batchSize: Int, child: LogicalPlan) extends UnaryNode {
  require(batchSize > 0, s"batchSize must be positive, got $batchSize")
  override def output: Seq[Attribute] = child.output :+ completion
  override def producedAttributes: AttributeSet = AttributeSet(completion)
  override def maxRows: Option[Long] = child.maxRows
  // the plan string reaches explain and the SQL listener: name the model's
  // class, never its fields (an HTTP model holds an API key)
  override protected def stringArgs: Iterator[Any] =
    Iterator(model.getClass.getSimpleName, messages, completion, batchSize)
  override protected def withNewChildInternal(newChild: LogicalPlan): LlmCall =
    copy(child = newChild)
}

/** Plans [[LlmCall]] as [[LlmCallExec]]. Installed on a session by
  * [[graft.exprs.GraftExtensions.install]]. */
object LlmCallStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case LlmCall(model, messages, completion, batchSize, child) =>
      LlmCallExec(model, messages, completion, batchSize, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Streams each partition's `InternalRow`s in `batchSize` groups into
  * `model.complete`, one model instance per task. A model may run a
  * batch's conversations concurrently ([[HttpChatModel]] does), so
  * `batchSize` is the per-task in-flight bound; across the cluster at most
  * `batchSize` × running tasks requests are in flight. Row order within a
  * partition, and so the child's partitioning and ordering, are kept. */
case class LlmCallExec(model: ChatModel.Model, messages: Attribute, completion: Attribute,
                       batchSize: Int, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ completion
  override def producedAttributes: AttributeSet = AttributeSet(completion)
  override def outputPartitioning = child.outputPartitioning
  override def outputOrdering = child.outputOrdering
  override protected def stringArgs: Iterator[Any] =
    Iterator(model.getClass.getSimpleName, messages, completion, batchSize)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "calls" -> SQLMetrics.createMetric(sparkContext, "conversations sent"),
    "nullOutputs" -> SQLMetrics.createMetric(sparkContext, "null completions"))

  override protected def doExecute(): RDD[InternalRow] = {
    val calls = longMetric("calls")
    val nulls = longMetric("nullOutputs")
    val m = model
    val n = batchSize
    val ordinal = child.output.indexWhere(_.exprId == messages.exprId)
    require(ordinal >= 0, s"$messages is not an output of the LLM call's input")
    // (input row, completion) → UnsafeRow, interpreted: a generated
    // projection would build its code again in every task, which costs more
    // than converting the few hundred rows a task sends to the model
    val fields = output.zipWithIndex.map { case (a, i) => BoundReference(i, a.dataType, a.nullable) }
    child.execute().mapPartitions({ it =>
      val project = InterpretedUnsafeProjection.createProjection(fields)
      val joined = new JoinedRow
      val out = new GenericInternalRow(1)
      it.map(_.copy()).grouped(n).flatMap { rows =>
        val batch = rows.map { row =>
          if (row.isNullAt(ordinal)) Seq.empty[ChatModel.Message]
          else {
            val arr = row.getArray(ordinal)
            (0 until arr.numElements()).map { i =>
              val turn = arr.getStruct(i, 2)
              ChatModel.Message(LlmCallExec.str(turn, 0), LlmCallExec.str(turn, 1))
            }
          }
        }
        val outs = m.complete(batch)
        require(outs.size == rows.size,
          s"ChatModel returned ${outs.size} completions for ${rows.size} conversations" +
            " — a short batch would silently drop rows in zip")
        calls += rows.size
        nulls += outs.count(_.isEmpty)
        rows.iterator.zip(outs.iterator).map { case (row, o) =>
          out.update(0, o.map(UTF8String.fromString).orNull)
          project(joined(row, out))
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): LlmCallExec =
    copy(child = newChild)
}

object LlmCallExec {
  private def str(row: InternalRow, i: Int): String =
    if (row.isNullAt(i)) null else row.getUTF8String(i).toString
}
