package graft.pipeline

import org.apache.spark.sql.types._

/** Explicit schemas for the two reference record shapes (SURVEY §1.4).
  * Always passed to `spark.read.schema(...).json(...)` — inference is a
  * full extra pass and nondeterministic on sparse fields.
  */
object Schemas {

  /** Source QA sample (`utils.py:352-358` loader; field accesses at
    * `prompt.py:32-39`, `our_method.py:6`, `run_llm_ours.py:13-17,90-94`). */
  val qaSample: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("question", StringType),
    StructField("reference", ArrayType(StringType)),
    StructField("sparse_ctxs", ArrayType(StringType)),
    StructField("dense_ctxs", ArrayType(StringType)),
    StructField("gold_ctxs", ArrayType(StringType)),
  ))

  private def branch(withDecision: Boolean): StructType = {
    val base = Seq(
      StructField("reject", BooleanType),
      StructField("answer", StringType),
      StructField("evidence", StringType),
      StructField("EM", IntegerType),
      StructField("F1", DoubleType),
      StructField("RL", DoubleType),
      StructField("has_answer", BooleanType),
    )
    StructType(if (withDecision) base :+ StructField("pred_decision", StringType) else base)
  }

  /** Result record (`run_llm_ours.py:231,236-250`; score fields written at
    * `utils.py:400-407`, `our_method.py:19-30`). */
  val resultRecord: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("answer", ArrayType(StringType)),
    StructField("label_decision", StringType),
    StructField("pred_decision", StringType),
    StructField("rag", branch(withDecision = false)),
    StructField("cf_use", branch(withDecision = true)),
    StructField("cf_quality", branch(withDecision = true)),
  ))
}
