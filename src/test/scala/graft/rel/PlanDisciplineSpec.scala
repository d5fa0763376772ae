package graft.rel

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** Plan-shape regression tests: the scale properties the queries rely on
  * (filter pushdown to parquet, column pruning, broadcast of small dims,
  * TakeOrdered for top-k) asserted against the executed plans so a future
  * refactor that silently loses them fails CI, not the 100-TB run. */
class PlanDisciplineSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private val dir = SparkTestBase.Sf0001

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, dir).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q30/q58: the fusion and extraction parsers are the registered kernels, not UDFs") {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import graft.exprs.{DealPredictionExpr, FusionExpr, ProbabilityExpr}
    def exprs(name: String) = graft.SparkEntry.queries(name)(spark, dir).queryExecution
      .analyzed.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    val q30 = exprs("q30_fusion_parse")
    val q58 = exprs("q58_parse_extract")
    assert(!(q30 ++ q58).exists(_.isInstanceOf[ScalaUDF]))
    assert(q30.exists(_.isInstanceOf[ProbabilityExpr]) && q30.exists(_.isInstanceOf[FusionExpr]))
    assert(q58.exists(_.isInstanceOf[DealPredictionExpr]))
  }

  test("q01: both predicates push into the parquet scan; schema pruned") {
    val p = plan("q01_scan_filter_project")
    assert(p.contains("PushedFilters:"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate") && p.contains("GreaterThan(l_discount"))
    // projection needs 6 of lineitem's 11 columns; the scan must not read more
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_returnflag") && !readSchema.contains("l_tax"), readSchema)
  }

  test("q03: dims join by broadcast, no shuffle join at dim cardinality") {
    val p = plan("q03_join_5way")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "dim joins must not sort-merge")
    // region filter reaches its scan
    assert(p.contains("In(r_name"))
  }

  test("q13: global top-k plans as TakeOrdered, not a global sort") {
    val p = plan("q13_topk")
    assert(p.contains("TakeOrderedAndProject"), p.linesIterator.take(3).mkString("\n"))
  }

  test("q24: brute-force kNN broadcasts the query side (no cartesian shuffle)") {
    val p = plan("q24_knn_cosine")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q63: one shuffle on the window partition key, pushdown of the date filter") {
    val p = plan("q63_window_distribution")
    // the date-range predicate reaches the parquet scan
    assert(p.contains("PushedFilters:") && p.contains("o_orderdate"), p.linesIterator.take(5).mkString("\n"))
    // the four window functions share the (o_orderpriority, ordering)
    // spec, so they evaluate over at most two Window nodes (rank-family +
    // frame-family), not one shuffle per function
    assert(p.split("\\) Window").length - 1 <= 2, s"expected at most 2 Window nodes, plan:\n$p")
  }

  test("q66: salted aggregation plans as two hash-aggregate stages, no extra shuffle") {
    val p = plan("q66_salted_agg")
    // two-stage: 2 aggregation shuffles (salted stage + merge stage) plus
    // the final result sort; count tree nodes only (formatted explain
    // repeats each node in the details section)
    val exchanges = p.linesIterator.count(_.contains("+- Exchange"))
    assert(exchanges <= 3, s"expected <=3 exchange tree nodes, got $exchanges:\n$p")
    assert(p.contains("HashAggregate"))
  }

  test("q88: lang predicate prunes hive partitions (PartitionFilters, not a data filter)") {
    val p = plan("q88_partitioned_prune")
    // the lang IN filter must land on the partitioning layer — whole
    // directories skipped before I/O — not as a post-scan Filter
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("lang"), s"lang filter not in PartitionFilters: $pf")
    // partition column carries no data pages; scan schema is data cols only
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("lang"), readSchema)
  }

  test("q89: vocab is TakeOrdered (no global sort) and broadcasts onto the token stream") {
    val p = plan("q89_vocab_oov")
    assert(p.contains("TakeOrderedAndProject"), "vocab top-k lost TakeOrdered")
    assert(p.contains("BroadcastHashJoin"), "derived vocab no longer broadcast")
  }

  test("q116: the PII scrub is a pure projection — no exchange anywhere") {
    val p = plan("q116_pii_redact")
    // the only allowed exchange is the declared ORDER BY's range partition
    // (formatted explain: tree line counts, details name the partitioning)
    val exchanges = p.linesIterator.count(_.contains("+- Exchange"))
    assert(exchanges == 1 && p.contains("rangepartitioning"),
      s"scrub must not shuffle data (only the declared sort may):\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("HashAggregate"), p)
  }

  test("q117: LM scoring joins are all broadcast — the token stream is never re-shuffled on the token key") {
    val p = plan("q117_perplexity_buckets")
    assert(!p.contains("SortMergeJoin"),
      s"LM table join regressed to a token-stream shuffle:\n$p")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q118: mixture resampling is projection + explode — no join, no aggregate") {
    val p = plan("q118_mixture_resample")
    assert(p.contains("Generate") && p.contains("explode"), p)
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"resampler must stay join/agg-free:\n$p")
  }

  test("q122: one content-keyed exchange for window counts; coverage reuses the doc_id exchange") {
    val p = plan("q122_dup_spans")
    // the stride-1 window table shuffles ONCE on its content key...
    assert(p.linesIterator.count(_.contains("hashpartitioning(wt")) == 1,
      s"window-content grouping must be a single exchange:\n$p")
    // ...and the LEAD coverage sweep + per-doc aggregate share ONE
    // doc_id exchange (the aggregate must not re-shuffle)
    assert(p.linesIterator.count(_.contains("hashpartitioning(doc_id")) == 1,
      s"coverage sweep and per-doc agg must share the doc_id exchange:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q123: one corpus scan — marginals read the checkpointed c12 table; scoring joins broadcast") {
    val p = plan("q123_bigram_lm")
    val scans = p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 1,
      s"c1/c2/totals must derive from the checkpointed c12, not replay the corpus ($scans scans):\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"the bigram stream must never shuffle on the count keys:\n$p")
  }

  test("q124: centroids broadcast into the scoring cross join; scan prunes the label column") {
    val p = plan("q124_kmeans")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the k-row centroid table must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"a shuffle cartesian against a model-sized table is never right:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("embedding") && !readSchema.contains("label"), readSchema)
  }

  test("q126: df/totals/self-join all read the checkpointed postings, never the corpus") {
    val p = plan("q126_weighted_jaccard")
    // the corpus parquet is read exactly once, during the eager postings
    // checkpoint — by the time the final plan runs, every branch (both
    // self-join sides, the totals agg) scans the materialized RDD
    val scans = p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 0 && p.contains("Scan ExistingRDD"),
      s"final plan must read the checkpointed postings only ($scans corpus scans):\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the self-join's exchange is the EXPLICIT shingle-keyed repartition
    // at the session's shuffle parallelism (round 11): AQE sizes
    // exchanges by input bytes, blind to the candidate-pair output
    // explosion — losing this pin re-opens the 10-tasks-on-32-cores
    // funnel measured at the 10× blow-up (49.5 s vs 21.0 s)
    val parts = spark.sessionState.conf.numShufflePartitions
    val pinned = p.linesIterator.exists(l =>
      l.contains(s"hashpartitioning(s#") && l.contains(s", $parts), REPARTITION_BY_NUM"))
    assert(pinned,
      "self-join lost its explicit shingle-keyed REPARTITION_BY_NUM exchange:\n" +
        p.linesIterator.filter(_.contains("hashpartitioning")).mkString("\n"))
  }

  test("q168: banded pHash self-join pins its exchange width (round-12 ADVICE)") {
    val p = plan("q168_phash_neardup")
    // same hazard class as q126: the banded (band, bval) frame is 16
    // bytes/image after the checkpoint, so AQE would coalesce the
    // self-join exchange by input size while a duplicate-heavy image
    // corpus explodes the pair OUTPUT through those few tasks; the
    // explicit (band, bval) repartition pins the width
    val parts = spark.sessionState.conf.numShufflePartitions
    val pinned = p.linesIterator.exists(l =>
      l.contains("hashpartitioning(band#") && l.contains(s", $parts), REPARTITION_BY_NUM"))
    assert(pinned,
      "banded self-join lost its explicit (band, bval) REPARTITION_BY_NUM exchange:\n" +
        p.linesIterator.filter(_.contains("hashpartitioning")).mkString("\n"))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q134: every corpus-sized window is partitioned; offsets broadcast back") {
    val p = plan("q134_interleave_order")
    // the corpus windows partition by source / by round; the only
    // unpartitioned window runs over the bounded per-round count table,
    // whose offsets then BROADCAST into the corpus join — the global
    // position is never a single-partition corpus window
    assert(p.contains("BroadcastHashJoin"),
      s"the bounded offset table must broadcast into the rank join:\n$p")
    val windowArgs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windowArgs.exists(_.contains("source")) && windowArgs.exists(_.contains("r#")),
      s"corpus windows must be partitioned by source and round:\n$windowArgs")
  }

  test("q94: eval shingles broadcast into the membership probe; no sort-merge, pruned scan") {
    val p = plan("q94_decontaminate")
    assert(p.contains("BroadcastHashJoin"), "eval shingle set must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "a fixed-size benchmark must never shuffle the training corpus for the probe")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text") &&
      !readSchema.contains("lang"), readSchema)
  }

  test("q92: gzip JSONL read prunes to the aggregated columns") {
    val p = plan("q92_gzip_jsonl")
    // the json read must carry the explicit schema, not re-infer
    assert(p.contains("ReadSchema"), p.linesIterator.take(5).mkString("\n"))
  }

  test("q103: passage chunking is shuffle-free until the declared sort") {
    val p = plan("q103_passage_chunks")
    // one Exchange total — the rangepartitioning for the deterministic
    // ORDER BY; the chunk expansion itself must stay a per-row projection
    val exchanges = p.linesIterator.count(l => l.contains(") Exchange"))
    assert(exchanges == 1, s"expected exactly the sort Exchange, got $exchanges:\n$p")
    assert(p.contains("Generate"), "explode of the window structs must plan as Generate")
  }

  test("q104: BM25 tops out via TakeOrdered; df/corpus stats broadcast, not shuffled") {
    val p = plan("q104_bm25")
    assert(p.contains("TakeOrderedAndProject"), "top-20 must not be a global sort")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "df + corpus stats must broadcast back onto the postings")
    // the query-term filter runs before the groupBy — map-side pruning of
    // the exploded token stream (tk IN (...) below the first aggregate)
    assert(p.contains("spark,join,merge") || p.contains("spark, join, merge"), p)
  }

  test("q108: MERGE upsert joins on the key (no cartesian), scan pruned to the merged columns") {
    val p = plan("q108_merge_upsert")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "full-outer MERGE must stay a keyed join")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("n_chars") && !readSchema.contains("source"),
      s"merge reads only doc_id/text/lang: $readSchema")
  }

  test("q110: the 1-row decay anchor broadcasts; events scan prunes to 3 columns") {
    val p = plan("q110_decayed_engagement")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "scalar anchor must broadcast, not shuffle")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("props") && !readSchema.contains("event_type"), readSchema)
  }

  test("q09: HLL approx distinct within 5% of exact (B9 no-oracle bound)") {
    import org.apache.spark.sql.functions._
    val events = Tables.load(spark, dir, "events")
    val exact = events.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = graft.SparkEntry.queries("q09_approx_distinct")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    approx.foreach { case (tpe, est) =>
      val ex = exact(tpe).toDouble
      assert(math.abs(est - ex) / ex <= 0.05, s"$tpe: est $est vs exact $ex")
    }
  }

  test("q68: approx_percentile close to exact percentiles (value tolerance)") {
    // GK guarantees RANK error (<= 1/accuracy); this asserts the observable
    // value consequence with slack for both the rank slack and the
    // element-vs-interpolated gap (exact percentile interpolates, the
    // sketch returns a data element — up to 0.5 apart on integer columns
    // regardless of sketch quality), so fixture regeneration can't fail a
    // correct sketch
    val exact = graft.SparkEntry.queries("q49_percentiles")(spark, dir).collect()
      .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val approx = ExtraQueries.q68ApproxPercentile(spark, dir).collect()
    approx.foreach { r =>
      val ex = exact(r.getString(0))
      Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3)).zip(ex).foreach {
        case (a, e) =>
          assert(math.abs(a - e) <= math.max(0.05 * math.abs(e), 1.0),
            s"${r.getString(0)}: approx $a vs exact $e")
      }
    }
    // and the GK sketch is value-close to the DECLARED exact q68 (same
    // quantiles, quantile_disc rank rule) — the sketch's rank slack plus
    // the discrete-element gap bound both engines' answers together
    val exactQ68 = graft.SparkEntry.queries("q68_exact_quantile")(spark, dir).collect()
      .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    approx.foreach { r =>
      val eq = exactQ68(r.getString(0))
      Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3)).zip(eq).foreach {
        case (a, e) =>
          assert(math.abs(a - e) <= math.max(0.05 * math.abs(e), 1.0),
            s"${r.getString(0)}: sketch $a vs exact-disc $e")
      }
    }
  }

  test("q68: the quantile key projection prunes the scan to 3 columns and " +
       "runs the bit transform inside whole-stage codegen") {
    val li = Tables.load(spark, dir, "lineitem")
    val proj = graft.ops.ExactQuantiles.keyProjection(li, "l_returnflag",
      Seq("l_quantity", "l_extendedprice"))
    val p = proj.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_quantity")
      && readSchema.contains("l_extendedprice"), readSchema)
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_shipdate"),
      s"scan reads more than the 3 projected columns: $readSchema")
    // formatted mode stars whole-stage-codegen'd nodes
    assert(p.contains("* Project"), "bit projection fell out of whole-stage codegen")
    assert(p.toLowerCase.contains("graft_double_sortable_bits"),
      "projection does not use the codegen expression")
  }

  test("salted aggregation equals plain aggregation (skew path correctness)") {
    import org.apache.spark.sql.functions._
    val events = Tables.load(spark, dir, "events")
    val plain = graft.ops.Skew.plainCountSum(events, col("event_type"), col("value"))
      .orderBy("k").collect().toSeq
    val salted = graft.ops.Skew.saltedCountSum(events, col("event_type"),
        col("event_id"), col("value"), saltBuckets = 8)
      .orderBy("k").collect().toSeq
    assert(salted == plain)
  }

  test("q76: IVF-PQ candidate join broadcasts the probe pairs; no cartesian product") {
    val p = plan("q76_ann_ivfpq")
    // candidate generation must be the (qid, cell) probe pairs joined on
    // cell — tiny broadcast side — never an all-pairs product, and the
    // re-rank shortlist joins stay broadcast too
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(5).mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"IVF-PQ must never go all-pairs:\n$p")
  }

  test("runtime Bloom-filter pruning: selective dim filter injects might_contain on the fact side") {
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      // thresholds lowered so the fixture-scale join qualifies; broadcast
      // disabled because the runtime filter targets shuffle joins (a
      // broadcast join already prunes via the build side)
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val orders = Tables.load(spark, dir, "orders")
        .where(col("o_orderpriority") === "1-URGENT") // selective dim-ish side
        .select("o_orderkey", "o_totalprice")
      val lineitem = Tables.load(spark, dir, "lineitem")
        .select("l_orderkey", "l_quantity")
      val joined = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
      val p = joined.queryExecution.optimizedPlan.toString
      // the injected runtime filter shows as might_contain(bloom) on the
      // large (application) side — scan rows are pruned BEFORE the shuffle,
      // the 100-TB benefit AQE alone does not give
      assert(p.contains("might_contain"),
        s"expected an injected bloom runtime filter in the optimized plan:\n$p")
      assert(joined.count() > 0)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("bucketed tables co-locate the join: no Exchange under the sort-merge join") {
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val saved = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the shuffle-join path so the assertion is about bucketing,
      // not broadcast
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_a")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_b")
      spark.range(0, 10000).select((col("id") % 997).as("k"), col("id").as("v"))
        .write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("graft_bucket_a")
      spark.range(0, 5000).select((col("id") % 997).as("k"), (col("id") * 2).as("w"))
        .write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("graft_bucket_b")
      val joined = spark.table("graft_bucket_a").join(spark.table("graft_bucket_b"), "k")
      assert(joined.collect().length > 0)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      // co-located buckets: matching bucket counts + join key == bucket
      // key means NO shuffle on either side — the pre-partitioning reuse
      // SURVEY §4 relies on for repeated big-fact joins at 100 TB
      assert(!p.contains("Exchange"), s"bucketed join must not shuffle:\n$p")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bucket_a")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_b")
      saved match {
        case Some(v) => conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }

  test("AQE splits the hot partition of a skewed sort-merge join (SURVEY §4.2 skew-join path)") {
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      // thresholds scaled down so the 100-TB condition (one partition ≫
      // median AND above the absolute floor) is reproducible on test data;
      // broadcast disabled because skew-split applies to shuffle joins
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32768")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // 95% of the left side lands on key 0 — the hot-user_id shape
      val left = spark.range(0, 200000).select(
        when(col("id") % 20 =!= 0, 0L).otherwise(col("id")).as("k"),
        concat(lit("pad-payload-pad-payload-pad-payload-"), col("id")).as("payload"))
      val right = spark.range(0, 500).select(col("id").as("k"), (col("id") * 2).as("v"))
      val joined = left.join(right, "k")
      // k=0: 190000 (id%20!=0) + 1 (id=0) matches; k=20..480 step 20: 24
      assert(joined.collect().length == 190025)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"expected AQE skew-split (skew=true) in the final adaptive plan:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
