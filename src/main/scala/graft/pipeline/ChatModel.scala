package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** The LLM boundary (A8, `llm_ours.py:38-125`) — the one reference
  * operation that is not an analytics operator (SURVEY §7.5). Modeled as a
  * pluggable trait executed by the [[LlmCall]] plan node, so
  * connections/clients amortize per task; failures degrade to `None`,
  * which flows into the reference's null-prediction path
  * (`utils.py:205`).
  *
  * All tests and declared queries use [[DeterministicStub]] — the engine
  * is zero-egress by construction.
  */
object ChatModel {

  /** One chat turn (`llm_ours.py:24-35`). */
  final case class Message(role: String, content: String)

  /** Batch completion interface. `maxRetries`/`timeoutMs` mirror the
    * reference's bounded-retry/30s-timeout behavior (`llm_ours.py:79,95-122`)
    * and are honored by real implementations; the stub ignores them.
    */
  trait Model extends Serializable {
    def complete(batch: Seq[Seq[Message]]): Seq[Option[String]]
  }

  /** Deterministic, zero-egress stub: a pure function of the last user
    * prompt. `script` maps a prompt-key (matched by substring) to a
    * per-conversation template; unmatched prompts echo deterministically.
    */
  final class DeterministicStub(script: Map[String, String]) extends Model {
    override def complete(batch: Seq[Seq[Message]]): Seq[Option[String]] =
      batch.map { messages =>
        val lastUser = messages.reverseIterator.find(_.role == "user").map(_.content).getOrElse("")
        val canned = script.collectFirst { case (k, v) if lastUser.contains(k) => v }
        Some(canned.getOrElse(s"Answer: stub-${math.abs(lastUser.hashCode % 1000)}."))
      }
  }

  /** Run the model over a `messages ARRAY<STRUCT<role,content>>` column,
    * appending a string `outCol` (null on failure): the batched analog of
    * the reference's per-record loop (`run_llm_ours.py:227`), with
    * connection reuse the reference lacks. Builds one [[LlmCall]] plan
    * node over `df`'s plan, so nothing runs until an action consumes the
    * column; then each task feeds its rows to one model instance,
    * `batchSize` conversations per [[Model.complete]] call. A model may run
    * a batch's conversations concurrently ([[HttpChatModel]] does), so
    * `batchSize` is also the per-task in-flight bound; across the cluster
    * at most `batchSize` × running tasks requests are in flight.
    */
  def transform(df: DataFrame, model: Model, messagesCol: String, outCol: String,
                batchSize: Int = 32): DataFrame = {
    val spark = df.sparkSession
    graft.exprs.GraftExtensions.install(spark)
    val plan = df.queryExecution.analyzed
    val messages = plan.output.find(_.name == messagesCol).getOrElse(
      throw new IllegalArgumentException(s"no column $messagesCol in ${plan.output.mkString(", ")}"))
    messages.dataType match {
      case ArrayType(StructType(Array(StructField(_, StringType, _, _),
                                      StructField(_, StringType, _, _))), _) =>
      case other => throw new IllegalArgumentException(
        s"$messagesCol must be ARRAY<STRUCT<role STRING, content STRING>>, got ${other.catalogString}")
    }
    val completion = AttributeReference(outCol, StringType)()
    val call = LlmCall(model, messages, completion, batchSize, plan)
    // expose the completion through an alias: analysis gives a Project's
    // aliases fresh ids on one side of a self-join, but not the attributes
    // a custom node produces
    Bridge.ofRows(spark, Project(plan.output :+ Alias(completion, outCol)(), call))
  }
}
