package perfbench

import graft.pipeline.ChatModel.Message
import graft.pipeline.Prompts
import graft.text.{ParseKernels, TextKernels}
import graft.text.ParseKernels.Parsed

/** A plain-Scala fold of the reference RC-RAG formulas, one sample at a
  * time, with no Spark: annotation and branch decisions (`our_method.py`),
  * probability or safety fusion, the reject override and the six risk
  * metrics (`run_llm_ours.py:278-306`), for `num_iteration = 1`. The
  * workloads compare the engine's output with it; the self-tests pin it to
  * the committed q40/q46 goldens.
  */
object RefFold {

  final case class Confusion(ak: Long, ad: Long, uk: Long, ud: Long) {
    def +(o: Confusion): Confusion = Confusion(ak + o.ak, ad + o.ad, uk + o.uk, ud + o.ud)
    /** risk, overcaution, recall, carefulness, alignment, coverage. */
    def metrics: Seq[Double] = {
      val n = (ak + ad + uk + ud).toDouble
      Seq(uk.toDouble / (ak + uk), ad.toDouble / (ud + ad), ak.toDouble / (ak + ad),
        ud.toDouble / (uk + ud), (ak + ud).toDouble / n, (ak + uk).toDouble / n)
    }
  }
  val MetricNames = Seq("risk", "overcaution", "recall", "carefulness", "alignment", "coverage")

  def cell(label: String, pred: String): Confusion = (label, pred) match {
    case ("keep", "keep") => Confusion(1, 0, 0, 0)
    case ("keep", "discard") => Confusion(0, 1, 0, 0)
    case ("discard", "keep") => Confusion(0, 0, 1, 0)
    case ("discard", "discard") => Confusion(0, 0, 0, 1)
    case _ => Confusion(0, 0, 0, 0)
  }

  /** Per-sample record of the fold: decisions, calls made, kernel calls. */
  final case class Row(id: Long, label: String, use: String, quality: String,
                       pred: String, ragReject: Boolean, overridden: Boolean,
                       calls: Int, kernelCalls: Int, ragAnswer: String)

  private def truthy(s: String) = s != null && s.nonEmpty

  /** `match` (`utils.py:399-413`): EM, substring, token F1 or ROUGE-L. */
  def matchOk(pred: String, refs: Seq[String]): Boolean =
    TextKernels.emCompute(refs, pred) == 1 || TextKernels.substrHasAnswer(refs, pred) ||
      (pred != null && TextKernels.tokenF1(refs, pred) > 0.7) ||
      (pred != null && TextKernels.rougeLRecall(refs, pred) > 0.7)

  def expandRefs(refs: Seq[String]): Seq[String] =
    (refs ++ refs.filter(_.contains(" or ")).flatMap(_.split(" or ", -1))).distinct

  def parse(out: Option[String]): Parsed =
    out.map(ParseKernels.dealPrediction).getOrElse(Parsed(reject = true, null, null))

  /** Branch decision (`our_method.py:12-30`, continue -> keep). */
  def decide(b: Parsed, rag: Parsed): String =
    if (truthy(b.answer) && truthy(rag.answer))
      if (matchOk(b.answer, Seq(rag.answer))) "keep" else "discard"
    else if (!b.reject && truthy(b.evidence) && truthy(rag.evidence))
      if (matchOk(b.evidence, Seq(rag.evidence))) "keep" else "discard"
    else "discard"

  def ragPrompt(q: Gen.Qa, k: Int = 3): String = {
    val block = q.dense.take(k).zipWithIndex.map { case (p, i) => s"Passage-$i$p" }.mkString("\n")
    Prompts.templates("rag").replace("{question}", q.question).replace("{passage}", block) +
      "\nAnswer: "
  }

  /** Run one sample through the reference pipeline against `llm`, with
    * `probability` (the reference default) or `safety` fusion. */
  def sample(q: Gen.Qa, llm: Seq[Message] => Option[String],
             fusion: String = "probability"): Row = {
    var calls = 0
    def ask(m: Seq[Message]) = { calls += 1; llm(m) }
    val m0 = Seq(Message("user", ragPrompt(q)))
    val rag = parse(ask(m0))
    val refs = expandRefs(q.reference)
    val label = if (matchOk(rag.answer, refs)) "keep" else "discard"
    def turn(prev: Seq[Message], answer: String, prompt: String) =
      prev ++ Seq(Message("assistant", Option(answer).getOrElse("None")), Message("user", prompt))
    val mUse = turn(m0, rag.answer, Prompts.templates("cf_use") + "\nAnswer: ")
    val mQuality = turn(m0, rag.answer, Prompts.templates("cf_quality") + "\nAnswer: ")
    val use = parse(ask(mUse))
    val quality = parse(ask(mQuality))
    val du = decide(use, rag)
    val dq = decide(quality, rag)
    val fused =
      if (du == dq) du
      else if (fusion == "safety") "discard"
      else {
        val tmpl = Prompts.templates("fusion_probability")
        val pU = ParseKernels.dealFusionProbability(parse(ask(turn(mUse, use.answer, tmpl))).answer)
        val pQ = ParseKernels.dealFusionProbability(parse(ask(turn(mQuality, quality.answer, tmpl))).answer)
        if (pU > pQ) du else if (pU < pQ) dq else "discard"
      }
    val overridden = fused == "keep" && rag.reject
    val pred = if (overridden) "discard" else fused
    // kernel calls on the reference path: one parse per completion, and
    // per match() one EM, token-F1 and ROUGE-L (annotation + 2 branches)
    val parses = calls
    val matches = 1 + Seq(use, quality).count(b =>
      (truthy(b.answer) && truthy(rag.answer)) || (!b.reject && truthy(b.evidence) && truthy(rag.evidence)))
    Row(q.id, label, du, dq, pred, rag.reject, overridden, calls, parses + 3 * matches, rag.answer)
  }

  /** Safety-strategy eval over saved result records (q40's path). */
  def safetyEval(rows: Seq[(String, String, String, Boolean)]): Confusion =
    rows.map { case (label, du, dq, ragReject) =>
      val fused = if (du == dq) du else if (du == "discard" || dq == "discard") "discard" else "keep"
      cell(label, if (fused == "keep" && ragReject) "discard" else fused)
    }.foldLeft(Confusion(0, 0, 0, 0))(_ + _)
}
