package graft.exprs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.SparkSessionExtensions

/** B30: the custom-Expression tier of the extension surface (SURVEY §7.3's
  * optional upgrade path): `_normalize_answer` (`utils.py:292-306`) as a
  * native Catalyst expression with whole-stage codegen — the generated
  * code calls the static kernel once per row, stays inside the codegen
  * pipeline (no UDF serialization boundary), and is registered as a SQL
  * function so `spark.sql("... graft_normalize(col) ...")` works.
  */
case class NormalizeAnswerExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  // non-string arguments fail at analysis time, not with a mid-job
  // ClassCastException (AbstractDataType/ExpectsInputTypes is private[sql],
  // so the check is spelled directly)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_normalize requires a STRING argument, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      graft.text.TextKernels.normalizeAnswer(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"UTF8String.fromString(graft.text.TextKernels.normalizeAnswer($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): NormalizeAnswerExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_normalize"
}

/** The `graft_*` SQL function catalog. [[GraftExtensions.install]] puts it
  * into a live session; the [[GraftExtensions]] class is the
  * `spark.sql.extensions` injection point for cluster-wide installs
  * (builder `.withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.exprs.GraftExtensions`). */
object GraftFunctions {

  private type Builder = Seq[Expression] => Expression

  /** The full SQL function catalog: the two codegen'd expressions plus the
    * reference's scoring/parsing kernel surface ([[KernelBridge]] — the
    * whole Part-A eval pipeline is expressible from `spark.sql` with
    * these; `SqlEvalPipelineSpec` runs it end to end). */
  private val catalog: Seq[(String, Class[_], Builder)] = Seq(
    ("graft_normalize", classOf[NormalizeAnswerExpr],
      (e: Seq[Expression]) => NormalizeAnswerExpr(e.head)),
    ("graft_dot", classOf[DotProductExpr],
      (e: Seq[Expression]) => DotProductExpr(e(0), e(1))),
    ("graft_dot_q", classOf[LongDotProductExpr],
      (e: Seq[Expression]) => LongDotProductExpr(e(0), e(1))),
    ("graft_sqdist_q", classOf[LongSqDistExpr],
      (e: Seq[Expression]) => LongSqDistExpr(e(0), e(1))),
    ("graft_tokens_contain", classOf[TokensContainExpr],
      (e: Seq[Expression]) => TokensContainExpr(e(0), e(1))),
    ("graft_em", classOf[EmExpr], (e: Seq[Expression]) => EmExpr(e(0), e(1))),
    ("graft_token_f1", classOf[TokenF1Expr],
      (e: Seq[Expression]) => TokenF1Expr(e(0), e(1))),
    ("graft_rougel", classOf[RougeLExpr],
      (e: Seq[Expression]) => RougeLExpr(e(0), e(1))),
    ("graft_fusion", classOf[FusionExpr],
      (e: Seq[Expression]) => FusionExpr(e.head)),
    ("graft_probability", classOf[ProbabilityExpr],
      (e: Seq[Expression]) => ProbabilityExpr(e.head)),
    ("graft_deal_prediction", classOf[DealPredictionExpr],
      (e: Seq[Expression]) => DealPredictionExpr(e.head)),
    ("graft_expand_refs", classOf[ExpandRefsExpr],
      (e: Seq[Expression]) => ExpandRefsExpr(e.head)),
    ("graft_double_bits", classOf[DoubleSortableBits],
      (e: Seq[Expression]) => DoubleSortableBits(e.head)))

  // 3-arg constructor: the usage-string overloads are deprecated since 3.0
  private def info(name: String, cls: Class[_]) =
    new ExpressionInfo(cls.getName, null, name)

  /** Registers the catalog's functions that `spark` does not have yet. */
  private[exprs] def registerMissing(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    catalog.foreach { case (name, cls, builder) =>
      val id = FunctionIdentifier(name)
      if (!registry.functionExists(id)) registry.registerFunction(id, info(name, cls), builder)
    }
  }

  /** Best-effort-installed Column call: installs the graft surface into the
    * active (or default) session ([[GraftExtensions.install]]), then calls
    * `fn`. The one home for the pattern [[graft.ops.Similarity.dot]]
    * pioneered — bare-Column callers with no session at
    * Column-construction time still work, DataFrame operators install on
    * their own df.sparkSession. */
  def call(fn: String, cols: org.apache.spark.sql.Column*): org.apache.spark.sql.Column = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(GraftExtensions.install)
    org.apache.spark.sql.functions.call_function(fn, cols: _*)
  }

  def inject(ext: SparkSessionExtensions): Unit =
    catalog.foreach { case (name, cls, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, cls), builder))
    }

  /** Registered function names (spec surface). */
  def names: Seq[String] = catalog.map(_._1)
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.inject(ext)
    GraftExtensions.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
    // the optimizer rule that pre-cuts row_number()<=k rank filters with
    // TopKPerKey: opt-in only, since it rewrites the plans of every query
    ext.injectOptimizerRule(_ => graft.plans.InferTopKFromRankFilter)
  }
}

/** The one imperative install path, for sessions built without the
  * extensions class: [[GraftFunctions.call]], `TopK.perKey` and
  * `ChatModel.transform` call it on their own session. */
object GraftExtensions {

  /** Planner strategies for the custom plan nodes: per-key top-k
    * (partial/final heap execs) and the LLM call. */
  val strategies: Seq[org.apache.spark.sql.execution.SparkStrategy] =
    Seq(graft.plans.TopKPerKeyStrategy, graft.pipeline.LlmCallStrategy)

  /** Registers the `graft_*` functions `spark` lacks and appends each of
    * [[strategies]] to `spark.experimental.extraStrategies` unless it is
    * there already, so a second install changes nothing (and logs no
    * "replaced a previously registered function" warning). Synchronized:
    * concurrent first callers would race the check-then-add. The
    * `InferTopKFromRankFilter` rule is not installed here (see the
    * class). */
  def install(spark: SparkSession): Unit = synchronized {
    GraftFunctions.registerMissing(spark)
    val exp = spark.experimental
    val missing = strategies.filterNot(exp.extraStrategies.contains)
    if (missing.nonEmpty) exp.extraStrategies = exp.extraStrategies ++ missing
  }
}
