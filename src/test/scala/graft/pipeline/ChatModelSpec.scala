package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.SparkTestBase

/** [[ChatModel.transform]]'s batch contract: a model that answers fewer
  * conversations than it was given fails the job instead of dropping
  * rows. */
class ChatModelSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("a short batch fails the job, it never drops a row") {
    val schema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("messages", ArrayType(StructType(Seq(
        StructField("role", StringType), StructField("content", StringType)))))))
    val rows = (0 until 10).map(i => Row(i, Seq(Row("user", s"q$i"))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val out = ChatModel.transform(df, new ChatModelSpec.OneShort, "messages", "out", batchSize = 4)
    val e = intercept[Exception](out.collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null && m.contains("a short batch would silently drop rows")))
  }
}

object ChatModelSpec {
  /** Answers every conversation of a batch but the last. */
  final class OneShort extends ChatModel.Model {
    override def complete(batch: Seq[Seq[ChatModel.Message]]): Seq[Option[String]] =
      batch.drop(1).map(_ => Some("Answer: x."))
  }
}
