package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The LLM boundary (A8, `llm_ours.py:38-125`) — the one reference
  * operation that is not an analytics operator (SURVEY §7.5). Modeled as a
  * pluggable trait executed via `mapPartitions` so connections/clients
  * amortize per partition; failures degrade to `None`, which flows into
  * the reference's null-prediction path (`utils.py:205`).
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

  private val messageType = ArrayType(StructType(Seq(
    StructField("role", StringType), StructField("content", StringType))))

  /** Run the model over a `messages ARRAY<STRUCT<role,content>>` column,
    * appending a string `outCol` (null on failure). Distributed: one model
    * instance per partition, completions in `batchSize` groups — the
    * batched analog of the reference's per-record loop
    * (`run_llm_ours.py:227`), with connection reuse the reference lacks.
    * A model may run a batch's conversations concurrently
    * ([[HttpChatModel]] does), so `batchSize` is also the per-task
    * in-flight bound; across the cluster at most `batchSize` × running
    * tasks requests are in flight.
    */
  def transform(df: DataFrame, model: Model, messagesCol: String, outCol: String,
                batchSize: Int = 32): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = inSchema.add(outCol, StringType)
    val msgIdx = inSchema.fieldIndex(messagesCol)
    val rdd = df.rdd.mapPartitions { it =>
      it.grouped(batchSize).flatMap { rows =>
        val batch = rows.map { row =>
          val msgs = row.getSeq[Row](msgIdx)
          if (msgs == null) Seq.empty[Message]
          else msgs.map(m => Message(m.getString(0), m.getString(1)))
        }
        val outs = model.complete(batch)
        require(outs.size == rows.size,
          s"ChatModel returned ${outs.size} completions for ${rows.size} conversations" +
            " — a short batch would silently drop rows in zip")
        rows.zip(outs).map { case (row, out) =>
          Row.fromSeq(row.toSeq :+ out.orNull)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }
}
