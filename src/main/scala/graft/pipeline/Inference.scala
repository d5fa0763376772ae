package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.exprs.GraftFunctions.call

/** Entry points 1 and 2 (SURVEY §3): annotate+infer and infer-from-cached-
  * annotations, as library functions (not declared queries — LLM output has
  * no SQL oracle; goldens use the [[ChatModel.DeterministicStub]]).
  *
  * Conversation threading mirrors the reference exactly
  * (`run_llm_ours.py:101-187`): the cf_use branch extends the rag
  * conversation in place (`messages`), while cf_quality extends an
  * independent fork taken BEFORE cf_use ran (`messages1 = deepcopy`,
  * `run_llm_ours.py:103`) — here a separate `messages_quality` column.
  * Fusion LLM calls go to each branch's own conversation, and only for
  * rows whose branch decisions disagree (`fusion` returns before any LLM
  * call on agreement, `run_llm_ours.py:144-146`).
  */
object Inference {

  /** A4 `ra_dict` (`run_llm_ours.py:13-17`): retriever type -> passage
    * column name. */
  val raDict: Map[String, String] =
    Map("sparse" -> "sparse_ctxs", "dense" -> "dense_ctxs", "gold" -> "gold_ctxs")

  final case class Config(
    raType: String = "dense",
    numPassage: Int = 3,          // run_llm_ours.py:63
    numIteration: Int = 1,        // run_llm_ours.py:66
    fusionStrategy: String = "probability", // run_llm_ours.py:68
    dataStart: Long = 0, dataEnd: Long = Long.MaxValue) // run_llm_ours.py:50-51

  /** A3 slice: ids are dense, so the range is a filter (SURVEY §1.4). */
  def sliceRange(df: DataFrame, start: Long, end: Long): DataFrame =
    df.where(col("id") >= start && col("id") < end)

  private def branchFromLlm(out: String) = {
    val parsed = call("graft_deal_prediction", col(out))
    struct(
      parsed.getField("reject").as("reject"),
      parsed.getField("answer").as("answer"),
      parsed.getField("evidence").as("evidence"),
      lit(null).cast("int").as("EM"), lit(null).cast("double").as("F1"),
      lit(null).cast("double").as("RL"), lit(null).cast("boolean").as("has_answer"),
      lit(null).cast("string").as("pred_decision"))
  }

  /** Entry point 1: RAG generation + annotation (`run_llm_ours.py:82-98`).
    * Source QA samples in ([[Schemas.qaSample]]); out: the source columns
    * plus `messages` (the rag conversation), `rag`, expanded `reference`,
    * `label_decision`. */
  def ragAnnotate(samples: DataFrame, model: ChatModel.Model, cfg: Config): DataFrame = {
    val ctxs = col(raDict(cfg.raType))
    val prompt = Prompts.singlePrompt("rag", col("question"), ctxs, cfg.numPassage)
    val withMsgs = sliceRange(samples, cfg.dataStart, cfg.dataEnd)
      .withColumn("messages", Prompts.initMessages(prompt))
    val withLlm = ChatModel.transform(withMsgs, model, "messages", "_llm")
    val parsed = withLlm
      .withColumn("rag", branchFromLlm("_llm").dropFields("pred_decision"))
      .drop("_llm")
    Stages.annotate(Stages.expandRefs(parsed))
  }

  /** Entry point 2 (A32, `run_llm_ours.py:217-218,236-241`): skip the LLM
    * annotate stage — equi-join precomputed annotations by id and rebuild
    * the rag conversation prefix (prompt + cached rag answer) so the
    * counterfactual turns see the right history. */
  def reuseAnnotations(samples: DataFrame, annotated: DataFrame, cfg: Config): DataFrame = {
    val ctxs = col(raDict(cfg.raType))
    val prompt = Prompts.singlePrompt("rag", col("question"), ctxs, cfg.numPassage)
    sliceRange(samples, cfg.dataStart, cfg.dataEnd)
      .join(annotated.select("id", "rag", "label_decision"), Seq("id"))
      .withColumn("messages", Prompts.initMessages(prompt))
      .transform(Stages.expandRefs)
  }

  /** One counterfactual branch with the A25 iteration loop
    * (`run_llm_ours.py:104-137`): up to `numIteration` rounds, rows that
    * decide `discard` exit early (their LLM cost is skipped, like the
    * reference skips calls); a final `continue` maps to keep inside
    * [[Stages.decide]]. The branch's conversation is threaded in its own
    * `msgCol` so the two branches stay independent. Each round's result is
    * `localCheckpoint`ed before the active/exiting split when iterating
    * (otherwise the split re-executes the round's LLM lineage twice, and
    * every later action re-ANALYZES the accumulated deep withField/parse
    * plans — the round-16 driver-gap fix). The checkpointed blocks live
    * until the session ends or the RDD is GC'd; lineage is truncated, so
    * blocks lost to executor failure are NOT recomputable — acceptable
    * under the local[N] contract, and cluster HA deployments swap in
    * reliable `checkpoint` as elsewhere in the repo.
    */
  def counterfactualBranch(df0: DataFrame, model: ChatModel.Model, cfg: Config,
                           branch: String, msgCol: String): DataFrame = {
    var done: DataFrame = null
    var active = df0
    var i = 0
    var activeNonEmpty = true
    while (i < cfg.numIteration && activeNonEmpty) {
      val prompt = Prompts.singlePrompt(branch, col("question"), col(raDict(cfg.raType)), cfg.numPassage)
      val prevAnswer = if (i == 0) col("rag.answer") else col(s"$branch.answer")
      val withMsgs = active.withColumn(msgCol,
        Prompts.appendTurn(col(msgCol), prevAnswer, prompt))
      val withLlm = ChatModel.transform(withMsgs, model, msgCol, "_llm")
      // Rounds after the first carry the previous round's scores into the
      // fresh branch struct: the reference's dict keeps EM/F1/RL/has_answer
      // from the last round in which match() ran, so a later direct-discard
      // round must not null them (run_llm_ours.py:112 overwrites only
      // reject/answer/evidence; our_method.py writes scores only on match).
      val fresh = branchFromLlm("_llm")
      val withPrev =
        if (i == 0) fresh
        else fresh
          .withField("EM", col(s"$branch.EM"))
          .withField("F1", col(s"$branch.F1"))
          .withField("RL", col(s"$branch.RL"))
          .withField("has_answer", col(s"$branch.has_answer"))
      var decided = Stages.decide(branch)(
        withLlm.withColumn(branch, withPrev).drop("_llm"))
      val lastRound = i == cfg.numIteration - 1
      // localCheckpoint rather than persist (round-16): persist caches the
      // blocks but every later action still re-ANALYZES the accumulated
      // lineage — the deep withField/parse plans here cost ~0.4-0.6 s of
      // driver gap per action (ProfileQ q91: 1.4 s of gaps vs 0.9 s of
      // jobs). Checkpointing truncates the logical plan to the computed
      // blocks; rows are identical (the round executes eagerly either way
      // via the isEmpty probe below). Cluster HA deployments that must
      // survive executor loss swap in reliable checkpoint, as elsewhere.
      if (!lastRound) decided = decided.localCheckpoint()
      val exiting =
        if (lastRound) decided
        else decided.where(col(s"$branch.pred_decision") === "discard")
      done = if (done == null) exiting else done.unionByName(exiting)
      if (lastRound) activeNonEmpty = false
      else {
        active = decided.where(col(s"$branch.pred_decision") =!= "discard")
        activeNonEmpty = !active.isEmpty
      }
      i += 1
    }
    done
  }

  /** Entry points 1/2 tail (`run_llm_ours.py:101-139` + fusion + override):
    * both counterfactual branches on their independent conversations,
    * agreement-short-circuited fusion, reject override. */
  def inferDecideFuse(annotated: DataFrame, model: ChatModel.Model, cfg: Config): DataFrame = {
    // messages1 = deepcopy of the rag conversation (run_llm_ours.py:103):
    // cf_quality threads messages_quality, cf_use threads messages in place.
    val forked = annotated.withColumn("messages_quality", col("messages"))
    val afterUse = counterfactualBranch(forked, model, cfg, "cf_use", "messages")
    // materialize before the complementary agree/disagree split below:
    // without it each side re-executes the full LLM lineage (double
    // cost), and a nondeterministic model could flip a decision between
    // the two recomputations, silently dropping or duplicating the row.
    // localCheckpoint rather than persist for the same plan-analysis
    // reason as the branch loop above (each split side re-optimized the
    // full two-branch lineage).
    val afterQuality = counterfactualBranch(afterUse, model, cfg, "cf_quality", "messages_quality")
      .localCheckpoint()

    val du = col("cf_use.pred_decision")
    val dq = col("cf_quality.pred_decision")

    // fusion() returns before any LLM call when the branches agree
    // (run_llm_ours.py:144-146) — split so only disagreement pays LLM cost.
    val agree = afterQuality.where(du === dq).withColumn("pred_decision", du)
    val disagreeIn = afterQuality.where(du =!= dq)

    val disagree = cfg.fusionStrategy match {
      case "safety" =>
        Stages.fuse("safety")(disagreeIn)
      case "prompt" =>
        // the LLM is asked on the DISCARDING branch's own conversation
        // (run_llm_ours.py:155-163)
        val branchIsUse = du === "discard"
        val tmpl = when(branchIsUse, lit(Prompts.templates("fusion_use")))
          .otherwise(lit(Prompts.templates("fusion_quality")))
        val prevAns = when(branchIsUse, col("cf_use.answer")).otherwise(col("cf_quality.answer"))
        val convo = when(branchIsUse, col("messages")).otherwise(col("messages_quality"))
        val withMsgs = disagreeIn.withColumn("_fusion_msgs",
          Prompts.appendTurn(convo, prevAns, tmpl))
        val out = ChatModel.transform(withMsgs, model, "_fusion_msgs", "_fusion")
        Stages.fuse("prompt", fusionLlmOut = Some(col("_fusion")))(out)
          .drop("_fusion", "_fusion_msgs")
      case "probability" =>
        // two independent asks, one per branch conversation
        // (run_llm_ours.py:166-187: messages / messages1)
        val tmpl = lit(Prompts.templates("fusion_probability"))
        val m1 = disagreeIn.withColumn("_probUse_msgs",
          Prompts.appendTurn(col("messages"), col("cf_use.answer"), tmpl))
        val o1 = ChatModel.transform(m1, model, "_probUse_msgs", "_probUse")
        val m2 = o1.withColumn("_probQuality_msgs",
          Prompts.appendTurn(col("messages_quality"), col("cf_quality.answer"), tmpl))
        val o2 = ChatModel.transform(m2, model, "_probQuality_msgs", "_probQuality")
        // deal_prediction strips/cleans before probability parse (run_llm_ours.py:169-185)
        val ansU = call("graft_deal_prediction", col("_probUse")).getField("answer")
        val ansQ = call("graft_deal_prediction", col("_probQuality")).getField("answer")
        Stages.fuse("probability", probUseRaw = Some(ansU), probQualityRaw = Some(ansQ))(o2)
          .drop("_probUse", "_probQuality", "_probUse_msgs", "_probQuality_msgs")
      case other => throw new IllegalArgumentException(s"unknown fusion strategy: $other")
    }
    Stages.rejectOverride(agree.unionByName(disagree))
  }
}
