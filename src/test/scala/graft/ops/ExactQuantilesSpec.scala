package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.ops.ExactQuantiles.Req

/** [[ExactQuantiles]] — the exact distributed order-statistic selection
  * behind q68. Oracle discipline lives in the driver's DuckDB gate; this
  * spec pins the algorithm itself: agreement with a local sort
  * (exact-decimal ⌈q·n⌉ rank, the empirically-verified DuckDB
  * `quantile_disc` rule) across adversarial value sets — mixed signs
  * (the sortable-bits sign split), ±0.0, denormals, duplicates, nulls,
  * single-element groups — plus the bit-transform round-trip and the
  * pass-count bound.
  */
class ExactQuantilesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  /** Local reference: k-th smallest, k = clamp(⌈q·n⌉, 1, n) with the
    * product taken exactly over q's shortest-decimal spelling. */
  private def ref(vs: Seq[Double], q: Double): Double = {
    val sorted = vs.sorted
    val k0 = java.math.BigDecimal.valueOf(q)
      .multiply(java.math.BigDecimal.valueOf(sorted.length.toLong))
      .setScale(0, java.math.RoundingMode.CEILING).longValueExact()
    val k = math.max(1L, math.min(sorted.length.toLong, k0))
    sorted((k - 1).toInt)
  }

  private def run(rows: Seq[(String, java.lang.Double)], qs: Seq[Double]): Map[String, Seq[java.lang.Double]] = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 7),
      StructType(Seq(StructField("g", StringType), StructField("x", DoubleType))))
    val reqs = qs.zipWithIndex.map { case (q, i) => Req("x", q, s"v$i") }
    ExactQuantiles.quantileDisc(df, "g", reqs).collect()
      .map(r => r.getString(0) -> qs.indices.map(i =>
        if (r.isNullAt(i + 1)) null else java.lang.Double.valueOf(r.getDouble(i + 1))))
      .toMap
  }

  test("sortable-bits transform round-trips and preserves order") {
    val vs = Seq(Double.MinValue, -1e300, -2.5, -java.lang.Double.MIN_VALUE, -0.0,
      0.0, java.lang.Double.MIN_VALUE, 1e-300, 2.5, 1e300, Double.MaxValue)
    val keyed = vs.map { v =>
      val b = java.lang.Double.doubleToLongBits(v)
      val k = if (b < 0L) b ^ Long.MaxValue else b
      // round-trip is bit-exact (−0.0 comes back as −0.0)
      assert(java.lang.Double.doubleToLongBits(ExactQuantiles.fromSortableBits(k)) == b)
      k
    }
    assert(keyed == keyed.sorted, "long order must equal double order")
  }

  test("graft_double_bits codegen expression agrees with the scalar twin " +
       "(SQL function + Column paths)") {
    val vs = Seq(Double.MinValue, -1e300, -2.5, -java.lang.Double.MIN_VALUE, -0.0,
      0.0, java.lang.Double.MIN_VALUE, 1e-300, 2.5, 1e300, Double.MaxValue)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(vs.map(v => Row(java.lang.Double.valueOf(v))) :+ Row(null), 2),
      StructType(Seq(StructField("x", DoubleType))))
    df.createOrReplaceTempView("bits_probe")
    graft.exprs.GraftExtensions.install(spark)
    // SQL-function spelling (codegen'd projection over the frame)
    val got = spark.sql(
      "SELECT x, graft_double_bits(x) AS k FROM bits_probe").collect()
    got.foreach { r =>
      if (r.isNullAt(0)) assert(r.isNullAt(1))
      else assert(r.getLong(1) == ExactQuantiles.toSortableBits(r.getDouble(0)),
        s"codegen diverged from scalar on ${r.getDouble(0)}")
    }
    // Column spelling used by the operator's key projection
    val viaCol = df.select(ExactQuantiles.sortableBits(org.apache.spark.sql.functions.col("x")))
      .collect().map(r => if (r.isNullAt(0)) null else Long.box(r.getLong(0)))
    val want = (vs.map(v => Long.box(ExactQuantiles.toSortableBits(v))) :+ null)
    assert(viaCol.toSeq == want)
  }

  test("matches local sort on adversarial mixed-sign data (multi-group, multi-q)") {
    val rnd = new scala.util.Random(42)
    val special = Seq(-0.0, 0.0, -1e308, 1e308, 1e-310, -1e-310, 3.5, 3.5, 3.5)
    val data: Seq[(String, java.lang.Double)] =
      (for (g <- Seq("a", "b", "c"); i <- 0 until 200) yield {
        val v = rnd.nextInt(4) match {
          case 0 => rnd.nextGaussian() * 1e6
          case 1 => -rnd.nextDouble()
          case 2 => rnd.nextInt(10).toDouble // heavy duplicates
          case _ => special(rnd.nextInt(special.length))
        }
        (g, java.lang.Double.valueOf(v))
      }) ++ Seq(("a", null: java.lang.Double), ("b", null: java.lang.Double))
    val qs = Seq(0.0, 0.01, 0.25, 0.31, 0.5, 0.62, 0.9, 0.99, 1.0)
    val got = run(data, qs)
    for (g <- Seq("a", "b", "c")) {
      val vs = data.collect { case (`g`, v) if v != null => v.doubleValue }
      qs.zipWithIndex.foreach { case (q, i) =>
        val e = ref(vs, q)
        val a = got(g)(i)
        assert(a != null && java.lang.Double.doubleToLongBits(a.doubleValue) ==
          java.lang.Double.doubleToLongBits(e), s"g=$g q=$q: got $a want $e")
      }
    }
  }

  test("single-element and all-null groups; two value columns in one call") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("one", java.lang.Double.valueOf(7.25), java.lang.Double.valueOf(1.0)),
        Row("nul", null, java.lang.Double.valueOf(2.0)),
        Row("nul", null, java.lang.Double.valueOf(4.0))), 2),
      StructType(Seq(StructField("g", StringType),
        StructField("x", DoubleType), StructField("y", DoubleType))))
    val out = ExactQuantiles.quantileDisc(df, "g",
        Seq(Req("x", 0.5, "mx"), Req("y", 0.5, "my")))
      .collect().map(r => r.getString(0) -> (r.get(1), r.get(2))).toMap
    assert(out("one") == ((7.25, 1.0)))
    assert(out("nul")._1 == null)
    assert(out("nul")._2 == 2.0) // ⌈0.5·2⌉=1 → 1st smallest
  }

  test("a group whose requested columns are ALL null still emits its row " +
       "(SQL GROUP BY semantics — catalog from the group column, not the keys)") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("live", java.lang.Double.valueOf(3.0), java.lang.Double.valueOf(8.0)),
        Row("dead", null, null),
        Row("dead", null, null)), 2),
      StructType(Seq(StructField("g", StringType),
        StructField("x", DoubleType), StructField("y", DoubleType))))
    val out = ExactQuantiles.quantileDisc(df, "g",
        Seq(Req("x", 0.5, "mx"), Req("y", 0.5, "my")))
      .collect().map(r => r.getString(0) -> (r.get(1), r.get(2))).toMap
    assert(out.keySet == Set("live", "dead"), "all-null group row was dropped")
    assert(out("live") == ((3.0, 8.0)))
    assert(out("dead") == ((null, null)))
  }

  test("q68 rank rule on the probed DuckDB edges (exact-decimal ceil, 0.9·10 wobble)") {
    val ten = (1 to 10).map(i => ("g", java.lang.Double.valueOf(i.toDouble)))
    val got = run(ten, Seq(0.9, 0.3, 0.35, 0.05, 0.15, 0.31, 0.45, 0.2, 0.21))
    // ⌈q·n⌉ over the exact decimal: 9, 3, ⌈3.5⌉=4, ⌈0.5⌉=1, ⌈1.5⌉=2,
    // ⌈3.1⌉=4, ⌈4.5⌉=5, 2, ⌈2.1⌉=3 — each value probed against DuckDB;
    // 0.9 is the discriminating case (double 0.9·10 = 9.000000000000002,
    // naive fp ceil would pick the 10th element)
    assert(got("g") == Seq(9.0, 3.0, 4.0, 1.0, 2.0, 4.0, 5.0, 2.0, 3.0)
      .map(java.lang.Double.valueOf))
  }

  test("NaN sorts greatest, matching DuckDB's double total order " +
       "(probed: q=1.0 → NaN, q=0.5 → 2.0 on {1, NaN, 2, 3})") {
    val data = Seq(1.0, Double.NaN, 2.0, 3.0)
      .map(v => ("g", java.lang.Double.valueOf(v)))
    val got = run(data, Seq(0.5, 0.75, 1.0))("g")
    assert(got(0) == 2.0 && got(1) == 3.0)
    assert(java.lang.Double.isNaN(got(2).doubleValue))
  }

  test("partitioning-invariant: identical bits at 1, 5, and 32 partitions " +
       "(the order-free-counts claim, observed)") {
    val rnd = new scala.util.Random(7)
    val data = (0 until 4000).map(i =>
      (if (i % 2 == 0) "g1" else "g2",
        java.lang.Double.valueOf(rnd.nextGaussian() * math.pow(10, rnd.nextInt(8)))))
    val qs = Seq(0.25, 0.5, 0.9)
    def at(parts: Int): Seq[(String, Seq[Long])] = {
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(data.map(r => Row(r._1, r._2)), parts),
        StructType(Seq(StructField("g", StringType), StructField("x", DoubleType))))
      ExactQuantiles.quantileDisc(df, "g",
          qs.zipWithIndex.map { case (q, i) => Req("x", q, s"v$i") })
        .collect().map(r => r.getString(0) -> qs.indices.map(i =>
          java.lang.Double.doubleToLongBits(r.getDouble(i + 1))))
        .sortBy(_._1).toSeq
    }
    val p1 = at(1)
    assert(p1 == at(5) && p1 == at(32), "quantile bits changed with partitioning")
  }

  test("MaxStates cap rejects high-cardinality group columns with guidance") {
    val df = spark.range(0, 1000).selectExpr("CAST(id AS STRING) AS g",
      "CAST(id AS DOUBLE) AS x")
    // the guard now fires INSIDE pass A's aggregation (fail-fast before
    // any large allocation), so Spark surfaces it wrapped in its task
    // failure — walk the cause chain for the guidance message
    val e = intercept[Throwable] {
      ExactQuantiles.quantileDisc(df, "g", Seq(Req("x", 0.5, "m"))).collect()
    }
    val messages = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(messages.contains("reporting-bounded"), messages.take(400))
  }

  // ---- seeded scalacheck sweep (round-10 verdict item 6) --------------------
  // Random distributions × random q's × random group counts, replayed
  // against a local sort over the SAME total order the operator uses
  // (IEEE-754 sortable bits: NaN greatest, −0.0 < +0.0). Includes
  // single-ULP-separated clusters, ±Infinity, ±0.0, nulls, empty and
  // all-null groups. Seed-looped Gen — the FourthWavePropertySpec
  // pattern (the scalatest-scalacheck bridge artifact is not cached).

  private def sample[A](gen: org.scalacheck.Gen[A], n: Int, seed0: Long): Seq[A] = {
    var seed = org.scalacheck.rng.Seed(seed0)
    (1 to n).flatMap { _ =>
      val a = gen.apply(org.scalacheck.Gen.Parameters.default, seed)
      seed = seed.next
      a
    }
  }

  private val caseGen: org.scalacheck.Gen[(Seq[(String, java.lang.Double)], Seq[Double])] = {
    import org.scalacheck.Gen
    val qGen: Gen[Double] = Gen.oneOf(
      Gen.const(0.0), Gen.const(1.0), Gen.const(0.5),
      Gen.choose(0.0, 1.0),
      Gen.choose(1, 99).map(_ / 100.0), // exact-decimal ⌈q·n⌉ wobble zone
      Gen.choose(0.0, 1.0).map(_ * 1e-3))
    for {
      nGroups <- Gen.choose(1, 6)
      nQs <- Gen.choose(1, 4)
      qs <- Gen.listOfN(nQs, qGen)
      groups <- Gen.sequence[List[(String, List[java.lang.Double])], (String, List[java.lang.Double])](
        (0 until nGroups).toList.map { g =>
          for {
            size <- Gen.choose(0, 60) // 0 ⇒ group absent entirely
            base <- Gen.choose(-1e6, 1e6)
            vs <- Gen.listOfN(size, Gen.choose(0, 9).flatMap {
              case 0 => Gen.const(null: java.lang.Double)
              case 1 => Gen.choose(-1e12, 1e12).map(java.lang.Double.valueOf)
              case 2 => Gen.choose(0, 4).map(i => java.lang.Double.valueOf(i.toDouble))
              case 3 => Gen.oneOf(Double.PositiveInfinity, Double.NegativeInfinity)
                .map(java.lang.Double.valueOf)
              case 4 => Gen.oneOf(-0.0, 0.0).map(java.lang.Double.valueOf)
              case 5 => Gen.const(java.lang.Double.valueOf(Math.nextUp(base)))
              case 6 => Gen.const(java.lang.Double.valueOf(Math.nextDown(base)))
              case 7 => Gen.const(java.lang.Double.valueOf(1e-310)) // denormal
              case _ => Gen.const(java.lang.Double.valueOf(base))
            })
          } yield (s"g$g", vs)
        })
    } yield (groups.flatMap { case (g, vs) => vs.map(v => (g, v)) }, qs.distinct)
  }

  test("seeded sweep: sort-based replay equality over random distributions × " +
       "random q's × random group counts (ULP ties, ±Inf, ±0.0, all-null groups)") {
    for (((data, qs), ci) <- sample(caseGen, 12, 20260814L).zipWithIndex
         if data.nonEmpty && qs.nonEmpty) {
      val got = run(data, qs)
      val byGroup = data.groupBy(_._1)
      assert(got.keySet == byGroup.keySet,
        s"case $ci: group catalog mismatch (groups with rows must all appear)")
      for ((g, rows) <- byGroup) {
        val vs = rows.collect { case (_, v) if v != null => v.doubleValue }
          .sortBy(ExactQuantiles.toSortableBits) // the operator's total order
        qs.zipWithIndex.foreach { case (q, i) =>
          val a = got(g)(i)
          if (vs.isEmpty) assert(a == null, s"case $ci g=$g q=$q: want NULL got $a")
          else {
            val k0 = java.math.BigDecimal.valueOf(q)
              .multiply(java.math.BigDecimal.valueOf(vs.length.toLong))
              .setScale(0, java.math.RoundingMode.CEILING).longValueExact()
            val e = vs((math.max(1L, math.min(vs.length.toLong, k0)) - 1L).toInt)
            assert(a != null && java.lang.Double.doubleToLongBits(a.doubleValue) ==
              java.lang.Double.doubleToLongBits(e),
              s"case $ci g=$g q=$q: got $a want $e over ${vs.length} values")
          }
        }
      }
    }
  }

  test("MaxStates boundary: exactly 128 states resolves; 129 via group×request " +
       "product fails fast with guidance") {
    import spark.implicits._
    // exactly MaxStates: 128 groups × 1 request — must succeed
    val ok = (0 until ExactQuantiles.MaxStates)
      .map(i => (f"g$i%03d", i.toDouble)).toDF("g", "x")
    val out = ExactQuantiles.quantileDisc(ok, "g", Seq(Req("x", 1.0, "v"))).collect()
    assert(out.length == ExactQuantiles.MaxStates)
    assert(out.forall(r => r.getDouble(1) == r.getString(0).drop(1).toInt.toDouble))
    // 65 groups × 2 requests = 130 states > 128, while the (group, column)
    // pass-A cap (128 × nCols) and the group catalog cap both pass —
    // the states.length require must catch it
    val over = (0 until 65).map(i => (f"g$i%03d", i.toDouble)).toDF("g", "x")
    val e = intercept[Throwable] {
      ExactQuantiles.quantileDisc(over, "g",
        Seq(Req("x", 0.25, "a"), Req("x", 0.75, "b"))).collect()
    }
    val messages = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(messages.contains("reporting-bounded"), messages.take(400))
  }

  test("converges in ≤4 count passes over the full double bit domain") {
    // widest possible window: [-MaxValue, +MaxValue] splits on sign at init,
    // then each pass divides the remaining span by 2^16; 63 bits / 16 < 4
    val rows = Seq(Row("g", -1e308), Row("g", 1e308), Row("g", 1e-310), Row("g", 0.0))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("g", StringType), StructField("x", DoubleType))))
    val (out, passes) =
      ExactQuantiles.quantileDiscWithPasses(df, "g", Seq(Req("x", 0.75, "v")))
    assert(out.collect().head.getDouble(1) == 1e-310)
    assert(passes <= 4, s"expected ≤4 refinement passes, ran $passes")
  }

  test("cacheScan=false (the 100-TB re-scan arm): identical output and pass " +
    "count to the cached arm") {
    val rnd = new scala.util.Random(68)
    val rows = (1 to 4000).map { i =>
      Row(s"g${i % 3}", java.lang.Double.valueOf(rnd.nextGaussian() * 100))
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 7),
      StructType(Seq(StructField("g", StringType), StructField("x", DoubleType))))
    val reqs = Seq(Req("x", 0.25, "p25"), Req("x", 0.5, "p50"), Req("x", 0.99, "p99"))
    val (cached, pc) = ExactQuantiles.quantileDiscWithPasses(df, "g", reqs)
    val (rescan, pr) =
      ExactQuantiles.quantileDiscWithPasses(df, "g", reqs, cacheScan = false)
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.head).toSeq
    assert(canon(cached) == canon(rescan),
      "re-scan arm must be bit-identical (counts are order-free)")
    assert(pc == pr, s"pass counts diverged: cached $pc vs re-scan $pr")
  }
}
