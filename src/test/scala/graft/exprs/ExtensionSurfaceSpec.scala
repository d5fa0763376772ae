package graft.exprs

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** B30 extension-surface specs: the codegen Catalyst expression through
  * SQL, and the typed confusion Aggregator. */
class ExtensionSurfaceSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("install is idempotent: a second call changes no function and adds no strategy") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    GraftExtensions.install(spark)
    val registry = spark.sessionState.functionRegistry
    def infos = GraftFunctions.names.map(n => registry.lookupFunction(FunctionIdentifier(n)))
    val before = infos
    val strategies = spark.experimental.extraStrategies
    assert(before.forall(_.isDefined))
    GraftExtensions.install(spark)
    // a re-registration would store a fresh ExpressionInfo
    assert(infos.zip(before).forall { case (a, b) => a.get eq b.get })
    assert(spark.experimental.extraStrategies == strategies)
    assert(GraftExtensions.strategies.forall(s => strategies.count(_ == s) == 1))
  }

  test("graft_normalize SQL function matches the kernel on quirk inputs") {
    GraftExtensions.install(spark)
    val cases = Seq("The  quick, brown fox!", "a the an", "...", "thé café",
      "Answer is (the) BEST-one!", "")
    import spark.implicits._
    val got = cases.toDF("s").createOrReplaceTempView("norm_in")
    val out = spark.sql("SELECT graft_normalize(s) FROM norm_in").as[String].collect().toSeq
    assert(out == cases.map(graft.text.TextKernels.normalizeAnswer))
  }

  test("graft_normalize handles null and stays in codegen plans") {
    GraftExtensions.install(spark)
    val out = spark.sql("SELECT graft_normalize(CAST(NULL AS STRING))").collect()(0)
    assert(out.isNullAt(0))
    // expression participates in whole-stage codegen (no UDF boundary):
    // the `*(n)` stage marker must cover the projection; a literal input
    // additionally constant-folds straight through the expression
    graft.rel.Tables.load(spark, SparkTestBase.Sf0001, "documents")
      .createOrReplaceTempView("norm_plan_in")
    val plan = spark.sql("SELECT graft_normalize(text) FROM norm_plan_in")
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") || plan.contains("WholeStageCodegen"), plan)
    val folded = spark.sql("SELECT graft_normalize('The  x!')")
      .queryExecution.optimizedPlan.toString
    assert(folded.contains("x AS"), folded) // constant-folded at optimize time
  }

  test("graft_dot: exact ascending-fold value, nulls, codegen, length mismatch") {
    GraftExtensions.install(spark)
    import spark.implicits._
    Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)))
      .toDF("a", "b").createOrReplaceTempView("dot_in")
    val got = spark.sql("SELECT graft_dot(a, b) FROM dot_in").as[Double].collect()(0)
    assert(got == 32.0) // exact: ((1*4) + 2*5) + 3*6, ascending fold
    // shorter side bounds the fold
    val short = spark.sql("SELECT graft_dot(array(2.0D, 3.0D), array(10.0D))")
      .as[Double].collect()(0)
    assert(short == 20.0)
    val nul = spark.sql("SELECT graft_dot(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D))")
      .collect()(0)
    assert(nul.isNullAt(0))
    // a null ELEMENT propagates null too (no silent treat-as-zero)
    val nulElem = spark.sql(
      "SELECT graft_dot(array(1.0D, CAST(NULL AS DOUBLE)), array(2.0D, 5.0D))")
      .collect()(0)
    assert(nulElem.isNullAt(0))
    // stays inside whole-stage codegen (no UDF serialization boundary)
    graft.rel.Tables.load(spark, SparkTestBase.Sf0001, "embeddings")
      .selectExpr("CAST(embedding AS ARRAY<DOUBLE>) AS v")
      .createOrReplaceTempView("dot_plan_in")
    val plan = spark.sql("SELECT graft_dot(v, v) FROM dot_plan_in")
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") || plan.contains("WholeStageCodegen"), plan)
    // interpreted eval path (no codegen) agrees with the codegen path
    val e = DotProductExpr(
      org.apache.spark.sql.catalyst.expressions.Literal.create(Array(1.0, 2.0, 3.0),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(Array(4.0, 5.0, 6.0),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)))
    assert(e.eval(null) == 32.0)
  }

  test("graft_dot_q / graft_sqdist_q: exact integer folds, nulls, codegen, HOF parity") {
    GraftExtensions.install(spark)
    import spark.implicits._
    val got = spark.sql(
      "SELECT graft_dot_q(array(2L, 3L, -4L), array(10L, 100L, 1000L))")
      .as[Long].collect()(0)
    assert(got == 20L + 300L - 4000L)
    val sq = spark.sql(
      "SELECT graft_sqdist_q(array(1L, -2L, 3L), array(4L, 2L, 3L))")
      .as[Long].collect()(0)
    assert(sq == 9L + 16L + 0L)
    // length mismatch yields NULL (HOF zip_with parity — no silent
    // truncate-to-shorter), as do null arrays and null elements
    assert(spark.sql("SELECT graft_dot_q(array(1L, 2L, 3L), array(1L, 2L))")
      .collect()(0).isNullAt(0))
    assert(spark.sql("SELECT graft_sqdist_q(CAST(NULL AS ARRAY<BIGINT>), array(1L))")
      .collect()(0).isNullAt(0))
    assert(spark.sql(
      "SELECT graft_dot_q(array(1L, CAST(NULL AS BIGINT)), array(2L, 5L))")
      .collect()(0).isNullAt(0))
    // whole-stage codegen span (the reason these exist over the HOF chain)
    graft.rel.Tables.load(spark, SparkTestBase.Sf0001, "embeddings")
      .selectExpr("""transform(CAST(embedding AS ARRAY<DOUBLE>),
                       x -> CAST(floor(x * 1e6 + 5e-1) AS BIGINT)) AS q""")
      .createOrReplaceTempView("qdot_plan_in")
    // the projection carrying the kernel is codegen'd (leading '*'); the
    // quantize transform HOF before it may sit in its own span
    val plan = spark.sql("SELECT graft_sqdist_q(q, q) FROM qdot_plan_in")
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("graft_sqdist_q") && l.trim.startsWith("*(")), plan)
    // agrees with the HOF spelling on real vectors (both exact folds)
    val both = spark.sql(
      """SELECT graft_dot_q(q, q) AS a,
           aggregate(zip_with(q, q, (x, y) -> x * y),
             CAST(0 AS BIGINT), (acc, v) -> acc + v) AS b
         FROM qdot_plan_in""").collect()
    assert(both.forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("ConfusionAggregator equals Stages.confusion on the fixture") {
    import spark.implicits._
    val fixture = spark.read.schema(graft.pipeline.Schemas.resultRecord)
      .json(SparkTestBase.FixtureJsonl)
    val fused = graft.pipeline.Stages.rejectOverride(
      graft.pipeline.Stages.fuse("safety")(fixture))
    val typed = fused.select("label_decision", "pred_decision").as[(String, String)]
      .select(ConfusionAggregator.instance.toColumn).collect()(0)
    assert(typed == ConfusionAggregator.Counts(3, 10, 2, 9))
  }
}
