package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.SparkTestBase
import graft.rel.Tables

/** The optimizer-rule arm: `Filter(row_number() <= k)` over a window gets
  * its input pre-cut by TopKPerKey; non-eligible shapes (rank with gaps,
  * extra window functions sharing the partition) are left alone. */
class InferTopKFromRankFilterSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def withRule[A](f: => A): A = {
    val exp = spark.experimental
    val before = exp.extraOptimizations
    exp.extraOptimizations = before :+ InferTopKFromRankFilter
    // the strategy must be present to plan the inserted node
    graft.exprs.GraftExtensions.install(spark)
    try f finally exp.extraOptimizations = before
  }

  private def events = Tables.load(spark, SparkTestBase.Sf0001, "events")
    .select(col("event_id").cast("long").as("event_id"),
      col("user_id").cast("long").as("user_id"), col("value"))

  private def rankLimit(k: Int) = {
    val w = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id"))
    events.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .select("user_id", "event_id", "rn")
  }

  test("row_number <= k filter gets the heap pre-cut; results identical") {
    val plain = rankLimit(3).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    withRule {
      val df = rankLimit(3)
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("TopKPerKey"),
        s"rule did not fire on the rank-limit idiom:\n$optimized")
      val got = df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == plain,
        s"rewrite changed results: rule-only=${got -- plain}, plain-only=${plain -- got}")
    }
  }

  test("rn === 1 (keep-first) and conjunctions with other predicates rewrite too") {
    withRule {
      val w = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id"))
      val first = events.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1 && col("value") >= 0.0)
      assert(first.queryExecution.optimizedPlan.toString.contains("TopKPerKey"))
      // one row per user, and the non-rn predicate still applies
      val got = first.select("user_id").collect().map(_.getLong(0)).toSeq
      assert(got.distinct.size == got.size)
    }
  }

  test("GLOBAL window (empty partitionBy) rewrites and plans: AllTuples final") {
    // row_number() over (order by x) <= k — the common global-top-k idiom.
    // TopKPerKey(Nil, ...) must plan (final stage demands AllTuples, not the
    // ClusteredDistribution(Nil) Spark 4.1.2 rejects) and match the plain run.
    val w = Window.orderBy(col("value").desc, col("event_id"))
    def globalTop(k: Int) = events.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k).select("event_id", "rn")
    val plain = globalTop(5).collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    withRule {
      val df = globalTop(5)
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("TopKPerKey"),
        s"rule should fire on the global rank-limit idiom:\n$optimized")
      // executedPlan forces planning — this is where ClusteredDistribution(Nil)
      // used to throw before the AllTuples branch
      val got = df.collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(got == plain, s"global rewrite changed results: got=$got plain=$plain")
    }
  }

  test("TopK.perKey with empty keys is global top-k") {
    val got = TopK.perKey(events, Seq.empty,
        Seq(col("value").desc, col("event_id")), 4)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val expected = events.orderBy(col("value").desc, col("event_id"))
      .limit(4).select("event_id").collect().map(_.getLong(0)).toSet
    assert(got == expected)
  }

  test("rank() (gaps) and multi-function windows are NOT rewritten") {
    withRule {
      val w = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id"))
      val rankDf = events.withColumn("rn", rank().over(w)).where(col("rn") <= 3)
      assert(!rankDf.queryExecution.optimizedPlan.toString.contains("TopKPerKey"),
        "rank() must see the full partition (gap semantics)")
      val multi = events.withColumn("rn", row_number().over(w))
        .withColumn("total", count(lit(1)).over(Window.partitionBy("user_id")))
        .where(col("rn") <= 3)
      assert(!multi.queryExecution.optimizedPlan.toString.contains("TopKPerKey"),
        "a partition aggregate alongside rn must see the full partition")
      // and the untouched plans still compute correctly
      assert(rankDf.count() >= rankLimit(3).count())
      val totals = multi.select("user_id", "total").distinct().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val trueCounts = events.groupBy("user_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(totals.forall { case (u, t) => trueCounts(u) == t },
        "partition count must be over ALL rows, not the cut")
    }
  }
}
