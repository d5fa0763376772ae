package graft.rel

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Round-9 training-prep wave: independent Scala replays of the declared
  * semantics (the DuckDB hash gate checks the oracle twin; these check
  * the SEMANTICS against a from-scratch reimplementation) plus the plan
  * pins that carry each query to corpus scale. */
class TrainPrepQueriesSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private val dir = SparkTestBase.Sf0001

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, dir).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  private def docs(): Array[(Long, String, String, Array[String])] =
    Tables.load(spark, dir, "documents")
      .select("doc_id", "source", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3).split(" ", -1)))

  test("q137: boundary metadata matches a sequential per-source replay") {
    val got = TrainPrepQueries.q137SequencePack(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    val L = 512L
    val expected = scala.collection.mutable.Map.empty[Long, (String, Long, Long, Long, Long)]
    docs().groupBy(_._2).foreach { case (source, ds) =>
      var cum = 0L // tokens consumed in this source's stream so far
      ds.sortBy(_._1).foreach { case (id, _, _, toks) =>
        val n = toks.length.toLong
        val firstSeq = cum / L
        val lastSeq = (cum + n - 1) / L
        expected(id) = (source, n, firstSeq, cum % L, lastSeq - firstSeq + 1)
        cum += n + 1 // document plus its EOS separator
      }
    }
    assert(got.size == expected.size)
    expected.foreach { case (id, e) => assert(got(id) == e, s"doc $id: ${got(id)} != $e") }
    // structural invariants on top of the replay
    got.values.foreach { case (_, n, _, off, spans) =>
      // worst case starts at offset L-1, adding one boundary crossing
      assert(off >= 0 && off < L && spans >= 1 && spans <= (n - 1) / L + 2)
    }
  }

  test("q137 plan: the packing window is partitioned by source (never a " +
       "single-partition corpus window)") {
    val p = plan("q137_sequence_pack")
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("source")),
      s"every window must partition by source:\n${windows.mkString("\n")}")
  }

  test("q138: every (source, lang) cell keeps its hash-priority top-3 exactly") {
    val got = TrainPrepQueries.q138QuotaSample(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
    val byCell = got.groupBy(t => (t._2, t._3))
    byCell.values.foreach(rows => assert(rows.length <= 3))
    // from-scratch replay: priority order within each cell, first 3 kept
    val expected = docs().groupBy(d => (d._2, d._3)).toSeq.flatMap { case (_, ds) =>
      ds.toSeq.map(d => (d._1, (d._1 * 69069L) % 65536L))
        .sortBy { case (id, pri) => (pri, id) }.take(3).zipWithIndex
        .map { case ((id, pri), i) => (id, pri, i + 1L) }
    }.toSet
    assert(got.map(t => (t._1, t._4, t._5)).toSet == expected)
  }

  test("q138 under the extension rule: the rank filter plans as a TopKPerKey " +
       "heap pre-cut with identical output") {
    val plain = TrainPrepQueries.q138QuotaSample(spark, dir).collect()
      .map(_.toSeq).toSeq
    val exp = spark.experimental
    val before = exp.extraOptimizations
    exp.extraOptimizations = before :+ graft.plans.InferTopKFromRankFilter
    graft.exprs.GraftExtensions.install(spark)
    try {
      val df = TrainPrepQueries.q138QuotaSample(spark, dir)
      assert(df.queryExecution.optimizedPlan.toString.contains("TopKPerKey"),
        "the declared row_number() <= 3 idiom must trigger the heap rewrite")
      assert(df.collect().map(_.toSeq).toSeq == plain)
    } finally exp.extraOptimizations = before
  }

  test("q139: pairs match a brute-force cross-split Jaccard sweep") {
    val got = TrainPrepQueries.q139SplitLeakage(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def shingles(toks: Array[String]): Set[String] =
      if (toks.length < 3) Set.empty
      else (0 to toks.length - 3).map(k => toks.slice(k, k + 3).mkString(" ")).toSet
    val sh = docs().map(d => (d._1, shingles(d._4))).filter(_._2.nonEmpty)
    val (ev, tr) = sh.partition { case (id, _) => (id * 69621L) % 65536L < 6554L }
    val expected = (for {
      (e, es) <- ev; (t, ts) <- tr
      inter = (es intersect ts).size
      if inter > 0
      j = inter.toDouble / (es.size + ts.size - inter)
      if j >= 0.5
    } yield (e, t, math.floor(j * 10000.0 + 0.5) / 10000.0)).toSet
    assert(got.toSet == expected, s"got ${got.length}, expected ${expected.size}")
    got.foreach { case (e, t, _) =>
      assert((e * 69621L) % 65536L < 6554L && (t * 69621L) % 65536L >= 6554L,
        s"pair ($e, $t) does not cross the split")
    }
  }

  test("q139 plan: the bounded eval postings broadcast into the shingle probe") {
    val p = plan("q139_split_leakage")
    assert(p.contains("BroadcastHashJoin"),
      s"the eval side must broadcast (q94's decontamination shape):\n$p")
  }

  test("q140: the balance tail replays from the q124 assignment; mass moves " +
       "toward the largest cluster, nothing downsampled") {
    val asg = PipelineQueries.kmeansAssign(
        Tables.load(spark, dir, "embeddings"), k = 8, iters = 2)
      .select("vec_id", "cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sizes = asg.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val m = sizes.values.max
    val expected = asg.flatMap { case (id, cl) =>
      val n = sizes(cl)
      val w = math.min(m * 65536L / n, 262144L)
      val copies = w / 65536L +
        (if ((id * 16807L) % 65536L < w % 65536L) 1L else 0L)
      (1L to copies).map(ci => (id, cl, n, copies, ci))
    }.toSet
    val got = TrainPrepQueries.q140ClusterBalance(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSet == expected, s"got ${got.length}, expected ${expected.size}")
    // balancing invariants: every vector survives (never downsampled) and
    // every non-max cluster's emitted mass strictly grows
    val emitted = got.groupBy(_._2).view.mapValues(_.map(t => (t._1, t._4)).distinct
      .map(_._2).sum).toMap
    sizes.foreach { case (cl, n) =>
      assert(emitted(cl) >= n, s"cluster $cl lost mass: ${emitted(cl)} < $n")
      if (n < m) assert(emitted(cl) > n, s"cluster $cl ($n docs) was not upsampled")
    }
  }

  test("q140 plan: cluster sizes and the max broadcast back into the " +
       "assignment stream (no corpus-sized shuffle in the balance tail)") {
    val p = plan("q140_cluster_balance")
    assert(p.contains("BroadcastHashJoin"),
      s"the k-row weight table must broadcast into the corpus join:\n$p")
  }

  test("q141: PSI replays from scratch (exact rationals + micro-ln) and is " +
       "non-negative by construction") {
    val got = TrainPrepQueries.q141CorpusDrift(spark, dir).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val bands = docs().map { case (id, src, _, toks) =>
      (src, math.min(toks.length.toLong / 32L, 7L),
        (id * 37117L) % 65536L < 32768L)
    }
    val expected = bands.groupBy(_._1).map { case (src, rows) =>
      val na = rows.count(_._3).toLong
      val nb = rows.length - na
      val byBand = rows.groupBy(_._2)
      // the FULL 8-band lattice: a band empty in both snapshots still
      // contributes its Laplace term whenever na != nb
      val terms = (0L to 7L).map { band =>
        val bs = byBand.getOrElse(band, Array.empty[(String, Long, Boolean)])
        val ca = bs.count(_._3).toLong
        val cb = bs.length - ca
        val num = (ca + 1) * (nb + 8)
        val den = (cb + 1) * (na + 8)
        val li = math.floor(math.log(num.toDouble / den.toDouble) * 1e6 + 0.5).toLong
        BigDecimal(num - den) * BigDecimal(li)
      }
      val psi = (terms.sum.toDouble / ((na + 8) * (nb + 8)).toDouble) / 1e6
      src -> ((na, nb, math.floor(psi * 1e4 + 0.5) / 1e4))
    }
    assert(got == expected, s"PSI replay diverged:\n$got\nvs\n$expected")
    got.values.foreach { case (_, _, psi) =>
      assert(psi >= 0.0, "each PSI band term has matching signs; the sum cannot go negative")
    }
  }

  test("q166: temperature shares replay from scratch and sqrt scaling " +
       "upsamples smaller languages (epochs non-increasing in size)") {
    val cnts = docs().map { case (_, _, lang, toks) => (lang, toks.length.toLong) }
      .groupBy(_._1).map { case (l, rows) => (l, rows.map(_._2).sum) }
    val sq = cnts.map { case (l, c) =>
      (l, c, math.floor(math.sqrt(c.toDouble) * 1e6 + 0.5).toLong) }
    val sqTot = sq.map(_._3).sum
    val nTot = cnts.values.sum
    def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    val expected = sq.toSeq.map { case (l, c, s) =>
      (l, c, r4(s.toDouble / sqTot), r4(s.toDouble / sqTot * nTot / c))
    }.sortBy(_._1)
    val got = TrainPrepQueries.q166TemperatureMix(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(got == expected)
    // sqrt scaling's whole point: the implied epochs fall as size grows
    val bySize = got.sortBy(_._2)
    bySize.sliding(2).foreach {
      case Seq(a, b) => assert(a._4 >= b._4,
        s"temperature scaling must not upsample the larger language: $a vs $b")
      case _ => ()
    }
    // shares form a distribution (r4 slack only)
    assert(math.abs(got.map(_._3).sum - 1.0) < 1e-3)
  }

  test("q154: the integer waterfill replays from scratch and both UniMax " +
       "regimes (epoch-capped tail, budget-limited head) occur") {
    val cnts = docs().map { case (_, _, lang, toks) => (lang, toks.length.toLong) }
      .groupBy(_._1).map { case (l, rows) => (l, rows.map(_._2).sum) }
    val asc = cnts.toSeq.sortBy { case (l, c) => (c, l) }
    val total = asc.map(_._2).sum
    var remaining = total * 5 / 2
    val expected = asc.zipWithIndex.map { case ((lang, c), i) =>
      val a = math.min(c * 3L, remaining / (asc.length - i))
      remaining -= a
      (lang, c, a, math.floor(a.toDouble / c.toDouble * 1e4 + 0.5) / 1e4)
    }.sortBy(_._1)
    val got = TrainPrepQueries.q154UnimaxAlloc(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == expected)
    // the allocation is meaningful at this SF: some language hits the
    // 3-epoch cap (low-resource upsampling) and some gets less than its
    // full demand (budget pressure) — otherwise the waterfill is vacuous
    assert(got.exists { case (_, c, a, _) => a == c * 3 },
      s"no language reached the epoch cap: $got")
    assert(got.exists { case (_, c, a, _) => a < c * 3 },
      s"no language was budget-limited: $got")
    // the budget is spent to within integer-division slack
    val spent = got.map(_._3).sum
    assert(spent <= total * 5 / 2,
      s"allocation overspent: spent=$spent budget=${total * 5 / 2}")
    got.foreach { case (l, c, a, e) =>
      assert(a >= 0 && a <= c * 3 && e <= 3.0, s"cap violated for $l: ($c, $a, $e)") }
  }
}
