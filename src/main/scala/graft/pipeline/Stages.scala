package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.exprs.GraftFunctions.call
import graft.exprs.RcFunctions.{matchStruct, truthy}

/** The RC-RAG pipeline, re-expressed as composable `DataFrame => DataFrame`
  * stages (SURVEY §3: each entry point is a pure stage pipeline; partial
  * recompute — the reference's re-fusion path — is re-applying a suffix).
  *
  * Input shape: columns `id`, `reference ARRAY<STRING>`, and structs
  * `rag{reject,answer,evidence,...}`, `cf_use{...}`, `cf_quality{...}`
  * ([[Schemas.resultRecord]]).
  */
object Stages {

  /** A22 reference expansion (`run_llm_ours.py:90-94`). */
  def expandRefs(df: DataFrame): DataFrame =
    df.withColumn("reference", call("graft_expand_refs", col("reference")))

  /** A23 annotation (`our_method.py:4-9`): label keep/discard from
    * match(rag.answer, reference); the match scores land in the rag
    * branch (`utils.py:400-402`). */
  def annotate(df: DataFrame): DataFrame = {
    val m = matchStruct(col("rag.answer"), col("reference"))
    df.withColumn("_m", m)
      .withColumn("rag", col("rag")
        .withField("EM", col("_m.EM")).withField("F1", col("_m.F1"))
        .withField("RL", col("_m.RL")).withField("has_answer", col("_m.has_answer")))
      .withColumn("label_decision", when(col("_m.ok"), "keep").otherwise("discard"))
      .drop("_m")
  }

  /** A24 decision (`our_method.py:12-30`) for one counterfactual branch,
    * plus the post-loop continue->keep mapping (`run_llm_ours.py:118-119`,
    * single-pass `num_iteration=1`). Scores from whichever match call ran
    * (answer path or evidence path) are written into the branch struct;
    * a direct discard leaves them unset, like the reference's dict.
    */
  def decide(branchName: String)(df: DataFrame): DataFrame = {
    val b = col(branchName)
    val answersPath = truthy(b.getField("answer")) && truthy(col("rag.answer"))
    val evidencePath = !b.getField("reject") &&
      truthy(b.getField("evidence")) && truthy(col("rag.evidence"))
    val mAns = matchStruct(b.getField("answer"), array(col("rag.answer")))
    val mEvi = matchStruct(b.getField("evidence"), array(col("rag.evidence")))
    val m = when(answersPath, mAns).when(evidencePath, mEvi).otherwise(lit(null))
    val decision =
      when(answersPath, when(mAns.getField("ok"), "continue").otherwise("discard"))
        .when(evidencePath, when(mEvi.getField("ok"), "continue").otherwise("discard"))
        .otherwise("discard")
    val finalDecision = when(decision === "continue", "keep").otherwise(decision)
    // a direct discard (no match call) must RETAIN whatever scores the
    // branch struct already carries — the reference's dict keeps the last
    // written values; only a match() run overwrites them. (Minimal input
    // structs without score fields — first-round shapes — retain null.)
    val branchFields = df.schema(branchName).dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSet
    def prev(field: String, tpe: String): Column =
      if (branchFields.contains(field)) b.getField(field) else lit(null).cast(tpe)
    df.withColumn("_m", m)
      .withColumn(branchName, b
        .withField("EM", when(col("_m").isNotNull, col("_m.EM")).otherwise(prev("EM", "int")))
        .withField("F1", when(col("_m").isNotNull, col("_m.F1")).otherwise(prev("F1", "double")))
        .withField("RL", when(col("_m").isNotNull, col("_m.RL")).otherwise(prev("RL", "double")))
        .withField("has_answer",
          when(col("_m").isNotNull, col("_m.has_answer")).otherwise(prev("has_answer", "boolean")))
        .withField("pred_decision", finalDecision))
      .drop("_m")
  }

  /** A28 fusion (`run_llm_ours.py:142-187`). Agreement short-circuits;
    * otherwise the strategy decides. The `prompt` and `probability`
    * strategies consume LLM completions — pass their output columns (the
    * stub supplies them in tests; `fusionLlmOut` for `prompt`,
    * `probUse`/`probQuality` raw completions for `probability`).
    */
  def fuse(strategy: String,
           fusionLlmOut: Option[Column] = None,
           probUseRaw: Option[Column] = None,
           probQualityRaw: Option[Column] = None)(df: DataFrame): DataFrame = {
    val du = col("cf_use.pred_decision")
    val dq = col("cf_quality.pred_decision")
    // LLM-consuming strategies must be given their completion columns —
    // a silent null default would resolve every disagreement to "discard"
    // (graft_fusion(null) and 0.0-vs-0.0 tie) with no error.
    val disagree = strategy match {
      case "safety" =>
        when(du === "discard" || dq === "discard", "discard").otherwise("keep")
      case "prompt" =>
        call("graft_fusion", fusionLlmOut.getOrElse(throw new IllegalArgumentException(
          "fuse(\"prompt\") requires fusionLlmOut (the fusion completion column)")))
      case "probability" =>
        val pU = call("graft_probability", probUseRaw.getOrElse(throw new IllegalArgumentException(
          "fuse(\"probability\") requires probUseRaw (the cf_use confidence completion)")))
        val pQ = call("graft_probability", probQualityRaw.getOrElse(throw new IllegalArgumentException(
          "fuse(\"probability\") requires probQualityRaw (the cf_quality confidence completion)")))
        when(pU > pQ, du).when(pU < pQ, dq).otherwise("discard") // tie ⇒ discard (quirk 9)
      case other => throw new IllegalArgumentException(s"unknown fusion strategy: $other")
    }
    df.withColumn("pred_decision", when(du === dq, du).otherwise(disagree))
  }

  /** A29 reject override (`run_llm_ours.py:245-246,270-271`). */
  def rejectOverride(df: DataFrame): DataFrame =
    df.withColumn("pred_decision",
      when(col("pred_decision") === "keep" && col("rag.reject"), "discard")
        .otherwise(col("pred_decision")))

  /** A30 confusion accumulate (`our_method.py:33-41`): one hash aggregate,
    * four conditional sums. */
  def confusion(df: DataFrame): DataFrame = {
    def cell(label: String, pred: String) =
      sum(when(col("label_decision") === label && col("pred_decision") === pred, 1L)
        .otherwise(0L))
    df.agg(
      cell("keep", "keep").as("AK"), cell("keep", "discard").as("AD"),
      cell("discard", "keep").as("UK"), cell("discard", "discard").as("UD"))
  }

  /** A31 risk metrics (`run_llm_ours.py:278-306`): single-row projection
    * over the confusion aggregate. */
  def metrics(df: DataFrame): DataFrame = {
    val (ak, ad, uk, ud) = (col("AK"), col("AD"), col("UK"), col("UD"))
    val n = ak + ad + uk + ud
    df.select(
      (uk.cast("double") / (ak + uk)).as("risk"),
      (ad.cast("double") / (ud + ad)).as("overcaution"),
      (ak.cast("double") / (ak + ad)).as("recall"),
      (ud.cast("double") / (uk + ud)).as("carefulness"),
      ((ak + ud).cast("double") / n).as("alignment"),
      ((ak + uk).cast("double") / n).as("coverage"),
      ak, ad, uk, ud)
  }

  /** Entry point 3 (`run_llm_ours.py:53-55`: the committed default mode is
    * eval + re-fusion; its committed fusion_strategy is "probability",
    * `run_llm_ours.py:67-68`) as one composed pipeline: saved per-branch
    * results in, one eval row out. The flagship declared query runs the
    * safety strategy (fully SQL-expressible, SURVEY §2.3); probability and
    * prompt re-fusion need their LLM-completion columns — pass the
    * strategy-appropriate [[fuse]] output through the same tail. */
  def evalPipeline(results: DataFrame, strategy: String = "safety"): DataFrame =
    metrics(confusion(rejectOverride(fuse(strategy)(results))))
}
