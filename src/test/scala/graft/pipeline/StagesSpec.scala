package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Golden end-to-end tests of the pipeline stages on the committed
  * fixture (goldens hand-computed by executing the reference's fusion/
  * override/confusion logic on the fixture rows — tools/make_fixture.py
  * prints them), plus branch-level decision/annotation tests against
  * reference semantics (`our_method.py:4-30`). */
class StagesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def fixture: DataFrame =
    spark.read.schema(Schemas.resultRecord).json(SparkTestBase.FixtureJsonl)

  test("flagship golden: safety fusion -> AK=3 AD=10 UK=2 UD=9 + metrics") {
    val row = Stages.evalPipeline(fixture, "safety").collect()(0)
    assert(row.getAs[Long]("AK") == 3L)
    assert(row.getAs[Long]("AD") == 10L)
    assert(row.getAs[Long]("UK") == 2L)
    assert(row.getAs[Long]("UD") == 9L)
    assert(math.abs(row.getAs[Double]("risk") - 0.4) < 1e-9)
    assert(math.abs(row.getAs[Double]("overcaution") - 10.0 / 19.0) < 1e-9)
    assert(math.abs(row.getAs[Double]("recall") - 3.0 / 13.0) < 1e-9)
    assert(math.abs(row.getAs[Double]("carefulness") - 9.0 / 11.0) < 1e-9)
    assert(math.abs(row.getAs[Double]("alignment") - 0.5) < 1e-9)
    assert(math.abs(row.getAs[Double]("coverage") - 5.0 / 24.0) < 1e-9)
  }

  test("probability fusion golden (tie -> discard, quirk 9): AK=3 AD=10 UK=3 UD=8") {
    val probUse = concat(lit("Probability: 0."), lpad((col("id") % 7).cast("string"), 2, "0"))
    val probQuality = concat(lit("probability: 0."), lpad((col("id") % 5).cast("string"), 2, "0"))
    val fused = Stages.fuse("probability",
      probUseRaw = Some(probUse), probQualityRaw = Some(probQuality))(fixture)
    val row = Stages.metrics(Stages.confusion(Stages.rejectOverride(fused))).collect()(0)
    assert((row.getAs[Long]("AK"), row.getAs[Long]("AD"),
      row.getAs[Long]("UK"), row.getAs[Long]("UD")) == ((3L, 10L, 3L, 8L)))
  }

  test("reject override flips fused keep to discard (run_llm_ours.py:245-246)") {
    val out = Stages.rejectOverride(Stages.fuse("safety")(fixture))
      .where(col("cf_use.pred_decision") === "keep" &&
        col("cf_quality.pred_decision") === "keep" && col("rag.reject"))
      .select("pred_decision").distinct().collect()
    assert(out.toSeq == Seq(Row("discard")))
  }

  test("decide: answers path continue->keep on match, discard on mismatch") {
    import spark.implicits._
    val df = Seq(
      // (id, rag.answer, rag.evidence, cf answer, cf evidence, reject)
      (0L, "apple", "Passage-1", "the apple.", "Passage-1", false), // match -> keep
      (1L, "apple", "Passage-1", "banana", "Passage-2", false),     // mismatch -> discard
      (2L, "", "Passage-1", "x", "Passage-1", false),               // empty rag answer -> evidence path, match -> keep
      (3L, "", "", "x", "y", false),                                // no evidences -> discard
      (4L, "", "Passage-1", "x", "Passage-1", true)                 // reject blocks evidence path -> discard
    ).toDF("id", "ra", "re", "ca", "ce", "rej")
      .select(col("id"),
        struct(lit(false).as("reject"), col("ra").as("answer"), col("re").as("evidence")).as("rag"),
        struct(col("rej").as("reject"), col("ca").as("answer"), col("ce").as("evidence")).as("cf_use"))
    val out = Stages.decide("cf_use")(df)
      .select("id", "cf_use.pred_decision").orderBy("id")
      .as[(Long, String)].collect().toSeq
    assert(out == Seq((0L, "keep"), (1L, "discard"), (2L, "keep"),
      (3L, "discard"), (4L, "discard")))
  }

  test("annotate: label keep iff match(rag.answer, reference) (our_method.py:4-9)") {
    import spark.implicits._
    val df = Seq(
      (0L, Seq("apple"), "the apple."),   // EM after normalize -> keep
      (1L, Seq("apple"), "orange juice"), // no match -> discard
      (2L, Seq("apple pie crust zz"), "pie crust zz apple extra") // F1 0.8 > 0.7 -> keep
    ).toDF("id", "reference", "ra")
      .select(col("id"), col("reference"),
        struct(lit(false).as("reject"), col("ra").as("answer"), lit("e").as("evidence")).as("rag"))
    val out = Stages.annotate(df).select("id", "label_decision").orderBy("id")
      .as[(Long, String)].collect().toSeq
    assert(out == Seq((0L, "keep"), (1L, "discard"), (2L, "keep")))
  }

  test("expandReferences: split on ' or ', keep originals, dedup (A22)") {
    import spark.implicits._
    val out = Seq(Seq("x or y", "z", "y")).toDF("reference")
      .select(graft.exprs.GraftFunctions.call("graft_expand_refs", col("reference")).as("r"))
      .as[Seq[String]].collect()(0)
    assert(out == Seq("x or y", "z", "y", "x"))
  }

  test("matchStruct: accept iff EM=1 or substring or F1>0.7 or RL>0.7 (utils.py:409-413)") {
    import spark.implicits._
    val df = Seq(
      (0L, Seq("apple"), "the apple."),       // EM
      (1L, Seq("pie"), "I said pie today"),   // substring has_answer
      (2L, Seq("no match"), "zzz qqq www"),   // nothing
    ).toDF("id", "refs", "pred")
    val out = df.select(col("id"),
        graft.exprs.RcFunctions.matchStruct(col("pred"), col("refs")).getField("ok").as("ok"))
      .orderBy("id").as[(Long, Boolean)].collect().toSeq
    assert(out == Seq((0L, true), (1L, true), (2L, false)))
  }

  test("confusion counts all four cells in one aggregate (A30)") {
    import spark.implicits._
    val df = Seq(("keep", "keep"), ("keep", "discard"), ("discard", "keep"),
      ("discard", "discard"), ("keep", "keep"))
      .toDF("label_decision", "pred_decision")
    val r = Stages.confusion(df).collect()(0)
    assert((r.getAs[Long]("AK"), r.getAs[Long]("AD"), r.getAs[Long]("UK"),
      r.getAs[Long]("UD")) == ((2L, 1L, 1L, 1L)))
  }
}
