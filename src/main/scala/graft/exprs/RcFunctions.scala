package graft.exprs

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level helpers over the RC-RAG scoring operators (SURVEY §2
  * Part A) that have no [[KernelExprs]] twin. The reference's per-row
  * string kernels (EM, token F1, ROUGE-L, `has_answer` containment,
  * `deal_prediction_with_evidence`, the fusion parsers, reference
  * expansion) have ONE definition each: the registered Catalyst
  * expressions in [[KernelExprs]], called from Scala through
  * [[GraftFunctions.call]] (`graft_em`, `graft_deal_prediction`, ...).
  */
object RcFunctions {

  /** `string.punctuation`, for `translate`-based stripping. */
  val PunctChars: String = "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~"

  /** `_normalize_answer` (`utils.py:292-306`) as a codegen-friendly column
    * chain: lower -> translate punctuation away -> drop articles ->
    * collapse whitespace. ASCII `\b`, on purpose: it matches the
    * DuckDB/RE2 oracle of the SQL-expressible queries (q31). The
    * reference's Unicode-aware rule is `graft_normalize`
    * ([[NormalizeAnswerExpr]]).
    */
  def normalizeAnswer(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(translate(lower(c), PunctChars, ""), "\\b(a|an|the)\\b", " "),
      "\\s+", " "))

  /** `EM_compute` (`utils.py:309-310`) over [[normalizeAnswer]]'s ASCII
    * `\b` — use ONLY in oracle-checked SQL-expressible queries. Scored
    * pipeline paths use `graft_em` ([[EmExpr]]), which shares the Unicode
    * normalization with F1/RL. */
  def em(pred: Column, refs: Column): Column =
    when(pred.isNull, lit(0)).otherwise(
      exists(refs, r => normalizeAnswer(r) === normalizeAnswer(pred)).cast("int"))

  /** `match`'s raw-substring has_answer (`utils.py:403-407`). */
  def hasAnswerSubstr(pred: Column, refs: Column): Column =
    when(pred.isNull, lit(false)).otherwise(
      exists(refs, r => instr(pred, r) > 0))

  /** `match` (`utils.py:399-413`) as a struct column: the three scores
    * (`graft_em`, `graft_token_f1`, `graft_rougel`), the substring
    * has_answer, and the accept verdict
    * (EM==1 ∨ has_answer ∨ F1>0.7 ∨ RL>0.7).
    */
  def matchStruct(pred: Column, refs: Column): Column = {
    val emC = GraftFunctions.call("graft_em", refs, pred)
    val f1C = GraftFunctions.call("graft_token_f1", refs, pred)
    val rlC = GraftFunctions.call("graft_rougel", refs, pred)
    val haC = hasAnswerSubstr(pred, refs)
    struct(
      emC.as("EM"), f1C.as("F1"), rlC.as("RL"), haC.as("has_answer"),
      (emC === 1 || haC || f1C > 0.7 || rlC > 0.7).as("ok"))
  }

  /** Python truthiness for strings (`our_method.py:15,23`): non-null and
    * non-empty (SURVEY §2.4 quirk 7). */
  def truthy(c: Column): Column = c.isNotNull && length(c) > 0
}
