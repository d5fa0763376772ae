package graft.exprs

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.text.{ParseKernels, TextKernels}

/** The reference's ENTIRE scoring/parsing kernel surface as native SQL
  * functions (SURVEY §2 Part A: A9/A10/A16-A19/A22/A26-A27), and the ONE
  * definition of each rule: the Scala pipeline ([[graft.pipeline.Stages]],
  * [[graft.pipeline.Inference]]) and the declared queries call them through
  * [[GraftFunctions.call]], and a SQL-first user can run the full eval
  * pipeline through `spark.sql` with no Scala (`SqlEvalPipelineSpec` pins
  * a q40-shaped eval end-to-end).
  *
  * These are Catalyst `Expression`s over the pure kernels, NOT Scala
  * UDFs: eval reads `ArrayData`/`UTF8String` directly off the internal
  * row (no catalyst→Scala row conversion layer, no encoder round-trip).
  * They are `CodegenFallback` BY CHOICE, for two reasons: (a) every
  * kernel here carries the reference's non-SQL null semantics (null
  * prediction scores 0 / "discard" / reject=true — never null-out), which
  * `nullSafeEval`-based codegen can't express without hand-rolling the
  * null branches per function; (b) the kernels themselves (Porter
  * stemming, NFD normalization, regex state machines) cost orders of
  * magnitude more than one virtual call per row, so whole-stage fusion
  * would be unmeasurable here (SURVEY §7.3's decision table — the same
  * budget reasoning that keeps these kernels out of Python UDFs).
  */
object KernelBridge {

  /** ArrayData of strings → Seq[String] without an encoder round-trip.
    * Null elements pass through as null; each expression decides its own
    * null-element policy (e.g. [[TokensContainExpr]] filters them out,
    * the scoring kernels let `normalizeAnswer(null)` score 0). */
  def strings(a: ArrayData): Seq[String] = {
    val n = a.numElements()
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      out(i) = if (a.isNullAt(i)) null else a.getUTF8String(i).toString
      i += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  def str(u: Any): String = if (u == null) null else u.toString
}

/** Shared analysis-time check for (ARRAY<STRING>, STRING) kernels. */
trait RefsPredInputs { self: BinaryExpression =>
  def fnName: String
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), StringType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$fnName requires (ARRAY<STRING>, STRING), got (${l.catalogString}, ${r.catalogString})")
  }
}

/** A10 `has_answer` token-sequence containment (`utils.py:16-199`):
  * `graft_tokens_contain(answers, text)`. Null/empty text ⇒ false (the
  * reference's guard), never null. NULL *elements* in the answers array
  * are skipped (no-match): the reference would raise on a `None` answer,
  * so a null element must not score — in particular it must NOT take the
  * empty-tokenization ⇒ trivially-contained branch reserved for genuine
  * punctuation-only answers. */
case class TokensContainExpr(left: Expression, right: Expression)
    extends BinaryExpression with RefsPredInputs with CodegenFallback {
  override def fnName: String = "graft_tokens_contain"
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = {
    val answers = left.eval(input)
    val text = KernelBridge.str(right.eval(input))
    if (answers == null || text == null) false
    else TextKernels.tokensContain(
      KernelBridge.strings(answers.asInstanceOf[ArrayData]).filter(_ != null), text)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): TokensContainExpr =
    copy(left = l, right = r)
  override def prettyName: String = fnName
}

/** A17 `EM_compute` (`utils.py:309-310`): `graft_em(refs, pred)`. Null
  * pred ⇒ 0 (reference scores a missing prediction as a miss). Unicode
  * normalization parity with [[graft.text.TextKernels.normalizeAnswer]]. */
case class EmExpr(left: Expression, right: Expression)
    extends BinaryExpression with RefsPredInputs with CodegenFallback {
  override def fnName: String = "graft_em"
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = {
    val refs = left.eval(input)
    val pred = KernelBridge.str(right.eval(input))
    if (refs == null) 0
    else TextKernels.emCompute(KernelBridge.strings(refs.asInstanceOf[ArrayData]), pred)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): EmExpr =
    copy(left = l, right = r)
  override def prettyName: String = fnName
}

/** A18 token-bag F1 (`utils.py:313-332`): `graft_token_f1(refs, pred)`.
  * Null pred ⇒ 0.0; max over golds; both-empty ⇒ 1 (quirk 4). */
case class TokenF1Expr(left: Expression, right: Expression)
    extends BinaryExpression with RefsPredInputs with CodegenFallback {
  override def fnName: String = "graft_token_f1"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = {
    val refs = left.eval(input)
    val pred = KernelBridge.str(right.eval(input))
    if (refs == null || pred == null) 0.0
    else TextKernels.tokenF1(KernelBridge.strings(refs.asInstanceOf[ArrayData]), pred)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): TokenF1Expr =
    copy(left = l, right = r)
  override def prettyName: String = fnName
}

/** A19 stemmed ROUGE-L recall (`utils.py:335-339`):
  * `graft_rougel(refs, pred)`. Null pred ⇒ 0.0. */
case class RougeLExpr(left: Expression, right: Expression)
    extends BinaryExpression with RefsPredInputs with CodegenFallback {
  override def fnName: String = "graft_rougel"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = {
    val refs = left.eval(input)
    val pred = KernelBridge.str(right.eval(input))
    if (refs == null || pred == null) 0.0
    else TextKernels.rougeLRecall(KernelBridge.strings(refs.asInstanceOf[ArrayData]), pred)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): RougeLExpr =
    copy(left = l, right = r)
  override def prettyName: String = fnName
}

/** Shared STRING-argument check for the unary parse kernels. */
trait StringInput { self: UnaryExpression =>
  def fnName: String
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fnName requires a STRING argument, got ${child.dataType.catalogString}")
}

/** A26 `deal_fusion` live semantics (`utils.py:368-378`, quirk 1):
  * `graft_fusion(completion)` → 'keep'/'discard'. Null ⇒ 'discard'. */
case class FusionExpr(child: Expression)
    extends UnaryExpression with StringInput with CodegenFallback {
  override def fnName: String = "graft_fusion"
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any =
    UTF8String.fromString(ParseKernels.dealFusion(KernelBridge.str(child.eval(input))))
  override protected def withNewChildInternal(newChild: Expression): FusionExpr =
    copy(child = newChild)
  override def prettyName: String = fnName
}

/** A27 `deal_fusion_probability` (`utils.py:381-393`):
  * `graft_probability(completion)` → DOUBLE. Null ⇒ 0.0. */
case class ProbabilityExpr(child: Expression)
    extends UnaryExpression with StringInput with CodegenFallback {
  override def fnName: String = "graft_probability"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any =
    ParseKernels.dealFusionProbability(KernelBridge.str(child.eval(input)))
  override protected def withNewChildInternal(newChild: Expression): ProbabilityExpr =
    copy(child = newChild)
  override def prettyName: String = fnName
}

/** A9 `deal_prediction_with_evidence` (`utils.py:202-219`):
  * `graft_deal_prediction(completion)` →
  * STRUCT<reject BOOLEAN, answer STRING, evidence STRING>. Null input is
  * the reference's rejected-row shape: (true, NULL, NULL) — the struct
  * itself is never null. */
case class DealPredictionExpr(child: Expression)
    extends UnaryExpression with StringInput with CodegenFallback {
  override def fnName: String = "graft_deal_prediction"
  override def dataType: DataType = StructType(Seq(
    StructField("reject", BooleanType, nullable = false),
    StructField("answer", StringType, nullable = true),
    StructField("evidence", StringType, nullable = true)))
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = {
    val p = ParseKernels.dealPrediction(KernelBridge.str(child.eval(input)))
    new GenericInternalRow(Array[Any](p.reject,
      if (p.answer == null) null else UTF8String.fromString(p.answer),
      if (p.evidence == null) null else UTF8String.fromString(p.evidence)))
  }
  override protected def withNewChildInternal(newChild: Expression): DealPredictionExpr =
    copy(child = newChild)
  override def prettyName: String = fnName
}

/** A22 reference expansion (`run_llm_ours.py:90-94`):
  * `graft_expand_refs(refs)` — split golds on " or ", extend (not
  * replace), dedup keeping first occurrence. Null list passes through
  * null (no row to expand). */
case class ExpandRefsExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_expand_refs requires ARRAY<STRING>, got ${t.catalogString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override protected def nullSafeEval(input: Any): Any = {
    val refs = KernelBridge.strings(input.asInstanceOf[ArrayData])
    val expanded = refs ++ refs.filter(r => r != null && r.contains(" or "))
      .flatMap(_.split(" or ", -1))
    new GenericArrayData(expanded.distinct.map(s =>
      if (s == null) null else UTF8String.fromString(s)))
  }
  override protected def withNewChildInternal(newChild: Expression): ExpandRefsExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_expand_refs"
}
