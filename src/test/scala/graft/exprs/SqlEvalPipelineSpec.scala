package graft.exprs

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.pipeline.{Schemas, Stages}

/** The SQL front door over the reference's kernel surface: with the
  * `graft_*` functions registered, a q40-shaped eval pipeline — reference
  * expansion, annotation (match over EM/F1/RL/has_answer), safety or
  * probability re-fusion, reject override, confusion, risk metrics — runs
  * ENTIRELY through `spark.sql`, and must equal the Scala
  * [[graft.pipeline.Stages]] pipeline row-for-row (reference semantics:
  * `utils.py:292-339`, `our_method.py:12-30`, `run_llm_ours.py:142-187`).
  */
class SqlEvalPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def fixture(): DataFrame = {
    GraftExtensions.install(spark)
    val df = spark.read.schema(Schemas.resultRecord)
      .json(SparkTestBase.FixtureJsonl)
      .withColumnRenamed("answer", "reference")
    df.createOrReplaceTempView("rag_results")
    df
  }

  /** The annotate CTE both SQL pipelines share: graft_expand_refs +
    * graft_em/graft_token_f1/graft_rougel + the substring has_answer —
    * the match() verdict (`utils.py:399-413`) spelled in SQL. */
  private val annotateSql =
    """expanded AS (
         SELECT *, graft_expand_refs(reference) AS refx FROM rag_results),
       annotated AS (
         SELECT *,
           CASE WHEN graft_em(refx, rag.answer) = 1
                  OR (rag.answer IS NOT NULL
                      AND exists(refx, r -> instr(rag.answer, r) > 0))
                  OR graft_token_f1(refx, rag.answer) > 0.7
                  OR graft_rougel(refx, rag.answer) > 0.7
                THEN 'keep' ELSE 'discard' END AS label
         FROM expanded)"""

  // The eval tails run on the fixture's STORED label_decision — exactly
  // Stages.evalPipeline's input contract (q40: labels were written by a
  // previous annotate run; the per-row annotation test above pins the
  // SQL kernels that would produce them).
  private def metricsTail(fusedCte: String): String =
    s"""WITH $fusedCte,
       ov AS (
         SELECT label, CASE WHEN pred0 = 'keep' AND rrej THEN 'discard' ELSE pred0 END AS pred
         FROM fused),
       conf AS (
         SELECT
           SUM(CASE WHEN label = 'keep' AND pred = 'keep' THEN 1 ELSE 0 END) AS AK,
           SUM(CASE WHEN label = 'keep' AND pred = 'discard' THEN 1 ELSE 0 END) AS AD,
           SUM(CASE WHEN label = 'discard' AND pred = 'keep' THEN 1 ELSE 0 END) AS UK,
           SUM(CASE WHEN label = 'discard' AND pred = 'discard' THEN 1 ELSE 0 END) AS UD
         FROM ov)
       SELECT CAST(UK AS DOUBLE) / (AK + UK) AS risk,
         CAST(AD AS DOUBLE) / (UD + AD) AS overcaution,
         CAST(AK AS DOUBLE) / (AK + AD) AS recall,
         CAST(UD AS DOUBLE) / (UK + UD) AS carefulness,
         CAST(AK + UD AS DOUBLE) / (AK + AD + UK + UD) AS alignment,
         CAST(AK + UK AS DOUBLE) / (AK + AD + UK + UD) AS coverage,
         AK, AD, UK, UD
       FROM conf"""

  /** The Scala twin: the Stages eval tail on the same stored labels. */
  private def scalaPipeline(df: DataFrame, strategy: String,
                            pu: Option[org.apache.spark.sql.Column] = None,
                            pq: Option[org.apache.spark.sql.Column] = None): DataFrame =
    Stages.metrics(Stages.confusion(Stages.rejectOverride(
      Stages.fuse(strategy, probUseRaw = pu, probQualityRaw = pq)(df))))

  private def assertOneRowEqual(viaSql: DataFrame, viaScala: DataFrame): Unit = {
    assert(viaSql.columns.toSeq == viaScala.columns.toSeq)
    val a = viaSql.collect(); val b = viaScala.collect()
    assert(a.length == 1 && b.length == 1)
    assert(a.head.toSeq == b.head.toSeq,
      s"SQL ${a.head.toSeq} != Scala ${b.head.toSeq}")
  }

  test("per-row annotation through SQL kernels equals Stages.annotate on every fixture row") {
    val df = fixture()
    val viaSql = spark.sql(
      s"""WITH $annotateSql
         SELECT id, label FROM annotated ORDER BY id""").collect()
    val viaScala = Stages.annotate(Stages.expandRefs(df))
      .select(col("id"), col("label_decision")).orderBy("id").collect()
    assert(viaSql.length == viaScala.length && viaSql.length > 0)
    viaSql.zip(viaScala).foreach { case (a, b) =>
      assert(a.toSeq == b.toSeq, s"row ${a.get(0)}: SQL ${a.toSeq} vs Scala ${b.toSeq}")
    }
  }

  test("q40-shaped SAFETY eval runs entirely through spark.sql and equals Stages row-for-row") {
    val df = fixture()
    val viaSql = spark.sql(metricsTail(
      """fused AS (
           SELECT label_decision AS label, rag.reject AS rrej,
             CASE WHEN cf_use.pred_decision = cf_quality.pred_decision THEN cf_use.pred_decision
                  WHEN cf_use.pred_decision = 'discard' OR cf_quality.pred_decision = 'discard' THEN 'discard'
                  ELSE 'keep' END AS pred0
           FROM rag_results)"""))
    assertOneRowEqual(viaSql, scalaPipeline(df, "safety"))
  }

  test("PROBABILITY eval: graft_probability parses branch confidences identically to Stages.fuse") {
    val df = fixture()
    // the same deterministic id-derived completions q41 uses
    val pu = concat(lit("Probability: 0."), lpad((col("id") % 7).cast("string"), 2, "0"))
    val pq = concat(lit("probability: 0."), lpad((col("id") % 5).cast("string"), 2, "0"))
    val viaSql = spark.sql(metricsTail(
      """withp AS (
           SELECT *,
             graft_probability(concat('Probability: 0.', lpad(CAST(id % 7 AS STRING), 2, '0'))) AS pu,
             graft_probability(concat('probability: 0.', lpad(CAST(id % 5 AS STRING), 2, '0'))) AS pq
           FROM rag_results),
         fused AS (
           SELECT label_decision AS label, rag.reject AS rrej,
             CASE WHEN cf_use.pred_decision = cf_quality.pred_decision THEN cf_use.pred_decision
                  WHEN pu > pq THEN cf_use.pred_decision
                  WHEN pu < pq THEN cf_quality.pred_decision
                  ELSE 'discard' END AS pred0
           FROM withp)"""))
    assertOneRowEqual(viaSql, scalaPipeline(df, "probability", pu = Some(pu), pq = Some(pq)))
  }

  test("PROMPT eval: graft_fusion resolves disagreements identically to Stages.fuse") {
    val df = fixture()
    // deterministic id-derived fusion completion (stands in for the LLM)
    val out = when(col("id") % 3 === 0, lit("I would keep this"))
      .otherwise(lit("discard it"))
    val viaSql = spark.sql(metricsTail(
      """fused AS (
           SELECT label_decision AS label, rag.reject AS rrej,
             CASE WHEN cf_use.pred_decision = cf_quality.pred_decision THEN cf_use.pred_decision
                  ELSE graft_fusion(CASE WHEN id % 3 = 0 THEN 'I would keep this'
                                         ELSE 'discard it' END) END AS pred0
           FROM rag_results)"""))
    assertOneRowEqual(viaSql,
      Stages.metrics(Stages.confusion(Stages.rejectOverride(
        Stages.fuse("prompt", fusionLlmOut = Some(out))(df)))))
  }

  test("graft_deal_prediction parses raw completions identically to ParseKernels.dealPrediction") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val raws = Seq(
      "Answer: Paris Evidence: ##found in Passage-3##",
      "answer: plain text with no markers",
      "I'm sorry, I cannot answer that question.",
      "Answer: multi\nline Evidence: Passage-1 and Passage-2 tail",
      "##span## outside",
      null)
    val viaSql = raws.toDF("raw").createOrReplaceTempView("raws")
    val got = spark.sql(
      """SELECT graft_deal_prediction(raw).reject AS reject,
                graft_deal_prediction(raw).answer AS answer,
                graft_deal_prediction(raw).evidence AS evidence
         FROM raws""").collect()
    got.zip(raws).foreach { case (row, raw) =>
      val want = graft.text.ParseKernels.dealPrediction(raw)
      assert(row.getBoolean(0) == want.reject, s"reject mismatch on $raw")
      assert(Option(row.getString(1)) == Option(want.answer), s"answer mismatch on $raw")
      assert(Option(row.getString(2)) == Option(want.evidence), s"evidence mismatch on $raw")
    }
  }

  test("kernel functions keep reference null semantics (score-0 / discard, never null)") {
    GraftExtensions.install(spark)
    val r = spark.sql(
      """SELECT graft_em(array('x'), CAST(NULL AS STRING)) AS em,
                graft_token_f1(array('x'), CAST(NULL AS STRING)) AS f1,
                graft_rougel(array('x'), CAST(NULL AS STRING)) AS rl,
                graft_tokens_contain(array('x'), CAST(NULL AS STRING)) AS tc,
                graft_fusion(CAST(NULL AS STRING)) AS fu,
                graft_probability(CAST(NULL AS STRING)) AS pr,
                graft_deal_prediction(CAST(NULL AS STRING)).reject AS rej""").head()
    assert(r.getInt(0) == 0 && r.getDouble(1) == 0.0 && r.getDouble(2) == 0.0)
    assert(!r.getBoolean(3) && r.getString(4) == "discard" && r.getDouble(5) == 0.0)
    assert(r.getBoolean(6))
  }

  test("graft_tokens_contain skips NULL answer elements (no trivial-containment footgun)") {
    GraftExtensions.install(spark)
    val r = spark.sql(
      """SELECT graft_tokens_contain(array(CAST(NULL AS STRING)), 'some text') AS only_null,
                graft_tokens_contain(array(NULL, 'text'), 'some text') AS null_plus_hit,
                graft_tokens_contain(array(NULL, 'absent'), 'some text') AS null_plus_miss,
                graft_tokens_contain(array('   '), 'some text') AS empty_tokenization""").head()
    // A NULL element is a no-match (the reference raises on None answers;
    // it must NOT take the trivially-contained empty-tokenization branch)…
    assert(!r.getBoolean(0) && r.getBoolean(1) && !r.getBoolean(2))
    // …while a genuine whitespace-only answer (tokenizes to zero tokens)
    // still matches trivially (utils.py's range(0, len+1) loop semantics).
    assert(r.getBoolean(3))
  }

  test("graft_expand_refs on fixed arrays: split on ' or ', extend, dedup") {
    import spark.implicits._
    GraftExtensions.install(spark)
    Seq((0, Seq("x or y", "z", "y")), (1, Seq("plain")), (2, Seq("a or b or c", "a")))
      .toDF("id", "reference").createOrReplaceTempView("refs_in")
    val viaSql = spark.sql("SELECT graft_expand_refs(reference) AS r FROM refs_in ORDER BY id")
      .collect().map(_.getSeq[String](0)).toSeq
    assert(viaSql == Seq(
      Seq("x or y", "z", "y", "x"),
      Seq("plain"),
      Seq("a or b or c", "a", "b", "c")))
  }

  test("kernel parity sweep: SQL functions equal the Scala kernels on mixed Unicode inputs") {
    import spark.implicits._
    GraftExtensions.install(spark)
    val cases = Seq(
      (Seq("café au lait", "naïve"), "A naïve answer about café au lait"),
      (Seq("北京大学"), "answer: 北京大学 is the reference"),
      (Seq("the quick brown fox"), "The quick brown fox!"),
      (Seq("a b c or d e"), "d e"),
      (Seq(""), ""),
      (Seq("x"), "completely unrelated text"))
    cases.toDF("refs", "pred").createOrReplaceTempView("kp")
    val got = spark.sql(
      """SELECT graft_em(refs, pred), graft_token_f1(refs, pred),
                graft_rougel(refs, pred), graft_tokens_contain(refs, pred)
         FROM kp""").collect()
    got.zip(cases).foreach { case (row, (refs, pred)) =>
      assert(row.getInt(0) == graft.text.TextKernels.emCompute(refs, pred))
      assert(row.getDouble(1) == graft.text.TextKernels.tokenF1(refs, pred))
      assert(row.getDouble(2) == graft.text.TextKernels.rougeLRecall(refs, pred))
      assert(row.getBoolean(3) == graft.text.TextKernels.tokensContain(refs, pred))
    }
  }
}
