package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.SparkTestBase

/** [[ChatModel.transform]]'s contract: a model that answers fewer
  * conversations than it was given fails the job instead of dropping
  * rows; a null conversation is sent as an empty one; the frame joins
  * with itself; the plan string names the model's class and nothing of
  * its state. */
class ChatModelSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("messages", ArrayType(StructType(Seq(
      StructField("role", StringType), StructField("content", StringType)))))))

  private def conversations(rows: Seq[Row]) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  test("a short batch fails the job, it never drops a row") {
    val df = conversations((0 until 10).map(i => Row(i, Seq(Row("user", s"q$i")))))
    val out = ChatModel.transform(df, new ChatModelSpec.OneShort, "messages", "out", batchSize = 4)
    val e = intercept[Exception](out.collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null && m.contains("a short batch would silently drop rows")))
  }

  test("a null conversation is sent as an empty one") {
    val df = conversations(Seq(Row(0, null), Row(1, Seq(Row("user", "q1"), Row("assistant", null)))))
    val out = ChatModel.transform(df, new ChatModelSpec.Echo, "messages", "out")
    assert(out.orderBy("id").select("out").collect().map(_.getString(0)).toSeq ==
      Seq("turns=0", "turns=2 user:q1 assistant:null"))
  }

  test("a transformed frame joins with itself") {
    val df = conversations(Seq(Row(0, Seq(Row("user", "q0"))), Row(1, Seq(Row("user", "q1")))))
    val out = ChatModel.transform(df, new ChatModelSpec.Echo, "messages", "out")
    val joined = out.as("a").join(out.as("b"), "id").select("id", "a.out", "b.out").orderBy("id")
    assert(joined.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq == Seq(
      (0, "turns=1 user:q0", "turns=1 user:q0"), (1, "turns=1 user:q1", "turns=1 user:q1")))
  }

  test("explain shows the LlmCall node and the model's class, never its API key") {
    val df = conversations(Seq(Row(0, Seq(Row("user", "q0")))))
    val model = new HttpChatModel("http://127.0.0.1:9/v1/chat/completions", "m", apiKey = "sk-secret")
    val qe = ChatModel.transform(df, model, "messages", "out").queryExecution
    val printed = org.apache.spark.sql.execution.ExplainMode.fromString _
    val strings = Seq("simple", "extended", "formatted", "cost").map(m => qe.explainString(printed(m))) ++
      Seq(qe.optimizedPlan.toJSON, qe.executedPlan.toJSON)
    assert(qe.executedPlan.isInstanceOf[LlmCallExec])
    // the logical node in the extended plans, its exec (named without
    // "Exec") in the physical one
    assert(strings.take(2).forall(_.contains("LlmCall HttpChatModel")))
    strings.foreach(s => assert(!s.contains("sk-secret")))
  }
}

object ChatModelSpec {
  /** Answers every conversation of a batch but the last. */
  final class OneShort extends ChatModel.Model {
    override def complete(batch: Seq[Seq[ChatModel.Message]]): Seq[Option[String]] =
      batch.drop(1).map(_ => Some("Answer: x."))
  }

  /** Answers with the number of turns and each turn's role and content. */
  final class Echo extends ChatModel.Model {
    override def complete(batch: Seq[Seq[ChatModel.Message]]): Seq[Option[String]] =
      batch.map(c => Some((s"turns=${c.size}" +: c.map(m => s"${m.role}:${m.content}")).mkString(" ")))
  }
}
