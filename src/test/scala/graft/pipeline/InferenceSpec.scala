package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import scala.jdk.CollectionConverters._

/** Stub-driven end-to-end tests of entry points 1/2, asserting the exact
  * per-branch conversation arrays against the reference's threading
  * (`run_llm_ours.py:101-103`: messages1 forks from the rag-only
  * conversation BEFORE cf_use extends messages; `:166-187`: probability
  * asks land on each branch's own conversation). */
/** JVM-static call counters (shared with executor threads in local mode). */
object IterCounter {
  val counts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
}

/** Answers each conversation with one of three
  * [[ChatModel.DeterministicStub]]s: a conversation that carries the
  * cf_quality prompt goes to `quality`, a cf_use ask in its third round to
  * `useLate`, every other one to `use`. The two fusion-probability asks
  * share one prompt, so a single stub would always tie them. Each call is
  * counted in [[IterCounter]] by the kind of its last prompt. */
final class BranchStub(use: Map[String, String], quality: Map[String, String],
                       useLate: Map[String, String]) extends ChatModel.Model {
  private val Seq(useStub, qualityStub, useLateStub) =
    Seq(use, quality, useLate).map(new ChatModel.DeterministicStub(_))
  override def complete(batch: Seq[Seq[ChatModel.Message]]): Seq[Option[String]] =
    batch.map { msgs =>
      val users = msgs.filter(_.role == "user").map(_.content)
      val kind = BranchStub.Kinds.collectFirst { case (k, key) if users.last.contains(key) => k }
        .getOrElse("rag")
      IterCounter.counts.merge(kind, 1, (a, b) => a + b)
      val stub =
        if (users.exists(_.contains(BranchStub.Kinds("cf_quality")))) qualityStub
        else if (kind == "cf_use" && users.count(_.contains(BranchStub.Kinds("cf_use"))) >= 3)
          useLateStub
        else useStub
      stub.complete(Seq(msgs)).head
    }
}

object BranchStub {
  /** Prompt kind -> a phrase only that kind's template contains. */
  val Kinds: Map[String, String] = Map(
    "cf_use" -> "improper use of the retrieved passages",
    "cf_quality" -> "quality of your referred passages",
    "fusion_use" -> "improper use of retrieval passages",
    "fusion_quality" -> "poor quality of retrieval passages",
    "probability" -> "Provide the probability")
}

class InferenceSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  /** A recording stub: echoes a scripted answer per template key and lets
    * the test inspect the conversation it was handed. */
  private val script = Map(
    "Question:" -> "Answer: apple.\nEvidence: ## Passage-0 ##.",  // rag
    "improper use" -> "Answer: apple!\nEvidence: ## Passage-0 ##.", // cf_use
    "quality of your referred passages" -> "Answer: pear.\nEvidence: ## Passage-1 ##.", // cf_quality
    "Provide the probability" -> "Probability: 0.9.")
  private val model = new ChatModel.DeterministicStub(script)

  private def samples = {
    import spark.implicits._
    Seq((0L, "What fruit?", Seq("apple"), Seq("p0", "p1", "p2"),
      Seq("d0", "d1", "d2"), Seq("g0", "g1", "g2")))
      .toDF("id", "question", "reference", "sparse_ctxs", "dense_ctxs", "gold_ctxs")
  }

  test("entry point 1: rag -> annotate -> branches -> fusion, correct threading") {
    val cfg = Inference.Config(fusionStrategy = "probability")
    val annotated = Inference.ragAnnotate(samples, model, cfg)
    val out = Inference.inferDecideFuse(annotated, model, cfg)
    val row = out.select("rag.answer", "cf_use.answer", "cf_quality.answer",
      "label_decision", "pred_decision", "messages", "messages_quality").collect()(0)

    assert(row.getString(0) == "apple.")
    assert(row.getString(1) == "apple!")
    assert(row.getString(2) == "pear.")
    assert(row.getString(3) == "keep") // "apple" substring-contained in "apple."

    // cf_use conversation = [rag user, rag assistant, cf_use user]
    val msgs = row.getSeq[Row](5)
    assert(msgs.length == 3)
    assert(msgs.map(_.getString(0)) == Seq("user", "assistant", "user"))
    assert(msgs(1).getString(1) == "apple.") // rag answer as assistant turn
    assert(msgs(2).getString(1).contains("improper use"))

    // cf_quality conversation forked BEFORE cf_use: same length, its own
    // template, and NO cf_use turns in it (the round-1 bug)
    val msgsQ = row.getSeq[Row](6)
    assert(msgsQ.length == 3)
    assert(msgsQ(1).getString(1) == "apple.")
    assert(msgsQ(2).getString(1).contains("quality of your referred passages"))
    assert(!msgsQ.exists(_.getString(1).contains("improper use")))
  }

  test("agreeing rows skip fusion LLM calls (run_llm_ours.py:144-146)") {
    // same stub answers for both branches -> decisions agree -> no prob
    // calls; the model throws if a fusion-probability prompt arrives
    val agreeScript = script + ("quality of your referred passages" ->
      "Answer: apple!\nEvidence: ## Passage-0 ##.")
    val agreeModel = new ChatModel.Model {
      private val inner = new ChatModel.DeterministicStub(agreeScript)
      override def complete(batch: Seq[Seq[ChatModel.Message]]): Seq[Option[String]] = {
        batch.foreach { msgs =>
          val last = msgs.reverseIterator.find(_.role == "user").map(_.content).getOrElse("")
          require(!last.contains("Provide the probability"),
            "fusion LLM called for an agreeing row")
        }
        inner.complete(batch)
      }
    }
    val cfg = Inference.Config(fusionStrategy = "probability")
    val annotated = Inference.ragAnnotate(samples, agreeModel, cfg)
    val out = Inference.inferDecideFuse(annotated, agreeModel, cfg)
    assert(out.select("pred_decision").collect()(0).getString(0) == "keep")
  }

  // ---- fusion strategies and iteration depths over eight rows -------------
  // Each row's rag answer comes from its own question; the branch answers
  // are fixed (cf_use "apple!" / Passage-0, cf_quality "pear." /
  // Passage-1), so a row's round-1 branch decisions follow from its rag
  // completion:
  //   0 "apple."               cf_use continue (EM), cf_quality discard
  //   1 "pear."                cf_use discard, cf_quality continue (EM)
  //   2 "plum."                both discard
  //   3 "p"                    both continue (substring)
  //   4 "p", refusal evidence  both continue; rag.reject overrides keep
  //   5 "" + Passage-0         evidence path: cf_use continue, cf_quality discard
  //   6 "" + Passage-1         evidence path: cf_use discard, cf_quality continue
  //   7 "apple pear"           both discard (F1 0.67, RL 0.5)
  // From round 3 on cf_use answers "## ##" (empty answer and evidence): a
  // direct discard that keeps the previous round's scores.
  private val ragScript = Map(
    "Question: r0?" -> "Answer: apple.\nEvidence: ## Passage-0 ##.",
    "Question: r1?" -> "Answer: pear.\nEvidence: ## Passage-0 ##.",
    "Question: r2?" -> "Answer: plum.\nEvidence: ## Passage-0 ##.",
    "Question: r3?" -> "Answer: p\nEvidence: ## Passage-0 ##",
    "Question: r4?" -> "Answer: p\nEvidence: ## sorry ##",
    "Question: r5?" -> "## Passage-0 ##",
    "Question: r6?" -> "## Passage-1 ##",
    "Question: r7?" -> "Answer: apple pear\nEvidence: ## Passage-0 ##")
  private val branchModel = new BranchStub(
    use = ragScript ++ Map(
      BranchStub.Kinds("cf_use") -> "Answer: apple!\nEvidence: ## Passage-0 ##.",
      BranchStub.Kinds("fusion_use") -> "I choose $$ keep $$",
      BranchStub.Kinds("probability") -> "Probability: 0.35"),
    quality = Map(
      BranchStub.Kinds("cf_quality") -> "Answer: pear.\nEvidence: ## Passage-1 ##.",
      BranchStub.Kinds("fusion_quality") -> "I choose $$ discard $$",
      BranchStub.Kinds("probability") -> "probability: 0.8."),
    useLate = Map(BranchStub.Kinds("cf_use") -> "## ##"))

  private def eightSamples = {
    import spark.implicits._
    (0 until 8).map(i => (i.toLong, s"r$i?", Seq("apple"), Seq("p", "p", "p"),
        Seq("p", "p", "p"), Seq("p", "p", "p")))
      .toDF("id", "question", "reference", "sparse_ctxs", "dense_ctxs", "gold_ctxs")
  }

  /** Runs entry point 1 over [[eightSamples]] and returns, per row (by id),
    * the (cf_use, cf_quality, fused) decisions, each branch's
    * (EM, F1, RL, has_answer) scores, and the model calls per prompt kind. */
  private def runEight(cfg: Inference.Config) = {
    IterCounter.counts.clear()
    val annotated = Inference.ragAnnotate(eightSamples, branchModel, cfg)
    val rows = Inference.inferDecideFuse(annotated, branchModel, cfg)
      .select("id", "cf_use.pred_decision", "cf_quality.pred_decision", "pred_decision",
        "cf_use.EM", "cf_use.F1", "cf_use.RL", "cf_use.has_answer",
        "cf_quality.EM", "cf_quality.F1", "cf_quality.RL", "cf_quality.has_answer")
      .collect().toSeq.sortBy(_.getLong(0)) // no orderBy: its range sampling re-runs the fusion asks
    def scores(r: Row, at: Int) =
      (r.get(at), r.get(at + 1), r.get(at + 2), r.get(at + 3))
    val decisions = rows.map(r => (r.getString(1), r.getString(2), r.getString(3)))
    val scoreRows = rows.map(r => (scores(r, 4), scores(r, 8)))
    val calls = IterCounter.counts.asScala.map { case (k, v) => k -> v.intValue }.toMap
    (decisions, scoreRows, calls)
  }

  /** Round-1 scores of every row; rounds after the first repeat them, and
    * cf_use's round-3 direct discard keeps them. */
  private val eightScores = Seq(
    ((1, 1.0, 1.0, false), (0, 0.0, 0.0, false)),
    ((0, 0.0, 0.0, false), (1, 1.0, 1.0, true)),
    ((0, 0.0, 0.0, false), (0, 0.0, 0.0, false)),
    ((0, 0.0, 0.0, true), (0, 0.0, 0.0, true)),
    ((0, 0.0, 0.0, true), (0, 0.0, 0.0, true)),
    ((1, 1.0, 1.0, true), (0, 0.0, 0.5, false)),
    ((0, 0.0, 0.5, false), (1, 1.0, 1.0, true)),
    ((0, 0.6666666666666666, 0.5, false), (0, 0.6666666666666666, 0.5, false)))

  /** (cf_use, cf_quality, fused) per row when no cf_use answer changes
    * between rounds (numIteration 1 and 2). */
  private val roundOneDecisions = Seq(
    ("keep", "discard", "discard"),
    ("discard", "keep", "keep"),
    ("discard", "discard", "discard"),
    ("keep", "keep", "keep"),
    ("keep", "keep", "discard"), // reject override
    ("keep", "discard", "discard"),
    ("discard", "keep", "keep"),
    ("discard", "discard", "discard"))

  test("prompt fusion asks on the discarding branch's conversation, only for disagreeing rows") {
    val (decisions, scores, calls) = runEight(Inference.Config(fusionStrategy = "prompt"))
    // rows 0 and 5 ask cf_quality's conversation ("discard"), rows 1 and 6
    // cf_use's ("keep")
    assert(decisions == roundOneDecisions)
    assert(scores == eightScores)
    assert(calls == Map("rag" -> 8, "cf_use" -> 8, "cf_quality" -> 8,
      "fusion_use" -> 2, "fusion_quality" -> 2))
  }

  test("probability fusion, numIteration 2: only continuing rows ask again") {
    val (decisions, scores, calls) =
      runEight(Inference.Config(fusionStrategy = "probability", numIteration = 2))
    // disagreeing rows take cf_quality's decision (0.8 > 0.35)
    assert(decisions == roundOneDecisions)
    assert(scores == eightScores)
    // four rows continue on each branch: 8 + 4 calls each; two
    // probability asks for each of the four disagreeing rows
    assert(calls == Map("rag" -> 8, "cf_use" -> 12, "cf_quality" -> 12, "probability" -> 8))
  }

  test("probability fusion, numIteration 3: a round-3 direct discard keeps round-2 scores") {
    val (decisions, scores, calls) =
      runEight(Inference.Config(fusionStrategy = "probability", numIteration = 3))
    assert(decisions == Seq(
      ("discard", "discard", "discard"),
      ("discard", "keep", "keep"),
      ("discard", "discard", "discard"),
      ("discard", "keep", "keep"),
      ("discard", "keep", "discard"), // reject override
      ("discard", "discard", "discard"),
      ("discard", "keep", "keep"),
      ("discard", "discard", "discard")))
    assert(scores == eightScores)
    assert(calls == Map("rag" -> 8, "cf_use" -> 16, "cf_quality" -> 16, "probability" -> 8))
  }

  test("the pipeline's analyzed plans call the registered kernels, never a ScalaUDF") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
    import graft.exprs.{DealPredictionExpr, EmExpr, ExpandRefsExpr, ProbabilityExpr}
    def exprs(df: org.apache.spark.sql.DataFrame): Seq[Expression] =
      df.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    val cfg = Inference.Config(fusionStrategy = "probability")
    // ragAnnotate and a one-round branch build their plans lazily (no job);
    // inferDecideFuse checkpoints the branches (one-row jobs), so its plan
    // shows the fusion parse on top of the checkpoint
    val annotated = Inference.ragAnnotate(samples, model, cfg)
    val branch = Inference.counterfactualBranch(
      annotated.withColumn("messages_quality", col("messages")), model, cfg, "cf_use", "messages")
    val fused = Inference.inferDecideFuse(annotated, model, cfg)
    for ((name, df) <- Seq("ragAnnotate" -> annotated, "cf_use branch" -> branch,
                           "inferDecideFuse" -> fused)) {
      val es = exprs(df)
      assert(!es.exists(_.isInstanceOf[ScalaUDF]), s"$name plan holds a ScalaUDF")
      assert(es.exists(_.isInstanceOf[DealPredictionExpr]), s"$name plan lacks graft_deal_prediction")
    }
    val annotatedEs = exprs(annotated)
    assert(annotatedEs.exists(_.isInstanceOf[ExpandRefsExpr]) && annotatedEs.exists(_.isInstanceOf[EmExpr]))
    assert(exprs(branch).exists(_.isInstanceOf[EmExpr]))
    assert(exprs(fused).exists(_.isInstanceOf[ProbabilityExpr]))
  }

  test("entry point 2: annotation reuse joins by id and rebuilds the prefix") {
    val cfg = Inference.Config(fusionStrategy = "safety")
    val annotated = Inference.ragAnnotate(samples, model, cfg)
      .select("id", "rag", "label_decision")
    val reused = Inference.reuseAnnotations(samples, annotated, cfg)
    val row = reused.select("rag.answer", "label_decision", "messages").collect()(0)
    assert(row.getString(0) == "apple.")
    assert(row.getString(1) == "keep")
    val msgs = row.getSeq[Row](2)
    assert(msgs.length == 1 && msgs(0).getString(0) == "user")
    assert(msgs(0).getString(1).contains("Question: What fruit?"))
    // " or "-expansion applied on reuse path too
    val refs = reused.select("reference").collect()(0).getSeq[String](0)
    assert(refs == Seq("apple"))
  }

  test("A25 iteration loop: round 2 runs only for continuing rows, early exit on discard") {
    import spark.implicits._
    // two samples: sample 0's cf answer matches rag (continue -> round 2);
    // sample 1 mismatches (discard -> exits after round 1)
    val twoSamples = Seq(
      (0L, "Q zero?", Seq("apple"), Seq("p", "p", "p"), Seq("p", "p", "p"), Seq("p", "p", "p")),
      (1L, "Q one?", Seq("apple"), Seq("p", "p", "p"), Seq("p", "p", "p"), Seq("p", "p", "p")))
      .toDF("id", "question", "reference", "sparse_ctxs", "dense_ctxs", "gold_ctxs")
    // counters live in a JVM-static object: the model instance itself is
    // serialized into task closures, so instance state would stay empty
    IterCounter.counts.clear()
    val counting = new ChatModel.Model {
      override def complete(batch: Seq[Seq[ChatModel.Message]]): Seq[Option[String]] =
        batch.map { msgs =>
          val last = msgs.reverseIterator.find(_.role == "user").map(_.content).getOrElse("")
          if (last.contains("improper use")) {
            val qKey = if (msgs.head.content.contains("Q zero")) "cf0" else "cf1"
            IterCounter.counts.merge(qKey, 1, (a, b) => a + b)
            // sample 0 echoes the rag answer (match); sample 1 diverges
            if (qKey == "cf0") Some("Answer: apple.") else Some("Answer: zzz qqq.")
          } else Some("Answer: apple.\nEvidence: ## Passage-0 ##.")
        }
    }
    val cfg = Inference.Config(fusionStrategy = "safety", numIteration = 2)
    val annotated = Inference.ragAnnotate(twoSamples, counting, cfg)
    val out = Inference.counterfactualBranch(
      annotated.withColumn("messages_quality", col("messages")),
      counting, cfg, "cf_use", "messages")
    val decisions = out.select("id", "cf_use.pred_decision").orderBy("id")
      .as[(Long, String)].collect().toSeq
    assert(decisions == Seq((0L, "keep"), (1L, "discard")))
    // driver-side lazy plans can evaluate a round more than once, but the
    // discarding sample must never be consulted more often than the
    // continuing one (its row exits the active set after round 1)
    assert(IterCounter.counts.get("cf0") != null && IterCounter.counts.get("cf1") != null)
    assert(IterCounter.counts.get("cf1") <= IterCounter.counts.get("cf0"))
  }

  test("appendTurn: null previous answer renders literal \"None\" (llm_ours.py:32)") {
    import spark.implicits._
    val df = Seq(Tuple1("q")).toDF("q")
      .withColumn("messages", Prompts.initMessages(lit("p1")))
      .withColumn("messages", Prompts.appendTurn(col("messages"), lit(null).cast("string"), lit("p2")))
    val msgs = df.select("messages").collect()(0).getSeq[Row](0)
    assert(msgs.map(m => (m.getString(0), m.getString(1))) ==
      Seq(("user", "p1"), ("assistant", "None"), ("user", "p2")))
  }

  test("fuse throws when LLM columns are missing for prompt/probability") {
    val df = spark.read.schema(Schemas.resultRecord).json(SparkTestBase.FixtureJsonl)
    assertThrows[IllegalArgumentException] { Stages.fuse("prompt")(df) }
    assertThrows[IllegalArgumentException] { Stages.fuse("probability")(df) }
  }

  test("Monitor.observeResults: quality metrics ride the action, no second scan") {
    val results = spark.read.schema(Schemas.resultRecord)
      .json(SparkTestBase.FixtureJsonl)
    val (instrumented, obs) = Monitor.observeResults(results)
    val nRows = instrumented.count() // the ONE action; metrics accumulate inside it
    val m = obs.get
    assert(m("n_rows") == nRows)
    // fixture invariants (FIXTURES.md §B2: 24 rows, golden keep counts)
    assert(m("n_rows") == 24L)
    val expectedKeep = results.where(org.apache.spark.sql.functions.col("label_decision") === "keep").count()
    assert(m("n_label_keep") == expectedKeep)
    val expectedRejects = results.where(org.apache.spark.sql.functions.col("rag.reject")).count()
    assert(m("n_rejects") == expectedRejects)
  }

  test("Monitor.instrument: named observation lands in observedMetrics") {
    val results = spark.read.schema(Schemas.resultRecord)
      .json(SparkTestBase.FixtureJsonl)
    val instrumented = Monitor.instrument(results, "spec_quality")
    // collect() runs the Dataset's OWN queryExecution (count() would plan
    // a separate aggregate execution whose metrics land elsewhere)
    instrumented.collect()
    val metrics = instrumented.queryExecution.observedMetrics
    assert(metrics.contains("spec_quality"))
    val row = metrics("spec_quality")
    assert(row.getAs[Long]("n_rows") == 24L)
    assert(row.getAs[Long]("n_label_keep") ==
      results.where(org.apache.spark.sql.functions.col("label_decision") === "keep").count())
  }

  test("A2 sink: append-mode JSONL accumulates records") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString + "/out"
    Sink.appendJsonl(Seq((1L, "a")).toDF("id", "v"), dir)
    Sink.appendJsonl(Seq((2L, "b")).toDF("id", "v"), dir)
    val back = spark.read.json(dir)
    assert(back.count() == 2)
  }
}
