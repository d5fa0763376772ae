package graft.rel

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

/** Hand-computable cases for the round-8 pipeline wave (the DuckDB hash
  * gate checks the full-table results; these pin the kernels' edge
  * semantics on inputs small enough to verify by hand). */
class PipelineQueriesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // ---- q122 dupSpans ---------------------------------------------------------

  private def spans(rows: Seq[(Long, String)], l: Int): Map[Long, (Long, Long, Long)] =
    PipelineQueries.dupSpans(rows.toDF("doc_id", "text"), l)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap

  test("dupSpans: identical docs are fully covered; a unique doc is untouched") {
    val out = spans(Seq(
      1L -> "a b c d e f",
      2L -> "a b c d e f",
      3L -> "q r s t u v"), l = 4)
    // docs 1/2: windows at k=0,1,2 all shared → union covers all 6 tokens
    assert(out(1L) == ((6L, 3L, 6L)) && out(2L) == ((6L, 3L, 6L)))
    assert(out(3L) == ((6L, 0L, 0L)))
  }

  test("dupSpans: overlapping windows merge into one interval (no double count)") {
    // doc 1 has 'a b c d e' twice with a gap; doc 2 shares that span once.
    // doc 1: dup windows at k=0 (a b c d) and k=1 (b c d e) overlap →
    // covered = min(4, 1-0) + 4 = 5 for the first occurrence; second
    // occurrence at k=7,8 likewise → 10 of 12 tokens.
    val out = spans(Seq(
      1L -> "a b c d e x y a b c d e",
      2L -> "z a b c d e z2 q w r t y"), l = 4)
    assert(out(1L) == ((12L, 4L, 10L)))
    // doc 2: windows k=1 (a b c d), k=2 (b c d e) → covered 5
    assert(out(2L) == ((12L, 2L, 5L)))
  }

  test("dupSpans: within-doc repetition alone counts as duplication") {
    val out = spans(Seq(1L -> "a b c a b c a b c"), l = 3)
    // windows: k=0..6; contents 'a b c','b c a','c a b' each ×3,
    // 'a b c' ×3 — every window duplicated → full coverage
    assert(out(1L) == ((9L, 7L, 9L)))
  }

  // ---- q123 bigramXent -------------------------------------------------------

  test("bigramXent: Jelinek-Mercer interpolation matches the hand calculation") {
    // corpus: bigrams (a,b)x2, (a,c)x1 -> c1(a)=3, c2(b)=2, c2(c)=1, T=3
    // p(b|a) = .7*(2/3) + .3*(2/3) = 2/3 ; p(c|a) = .7*(1/3) + .3*(1/3) = 1/3
    val out = PipelineQueries.bigramXent(
      Seq((1L, "en", "a b"), (2L, "en", "a b"), (3L, "en", "a c"))
        .toDF("doc_id", "lang", "text"), lambda = 0.7)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    def nll6(p: Double) = math.floor(-math.log(p) * 1e6 + 0.5) / 1e6
    assert(out(1L) == r4(nll6(2.0 / 3)) && out(2L) == out(1L))
    assert(out(3L) == r4(nll6(1.0 / 3)))
  }

  test("bigramXent: single-token docs are excluded; languages are independent") {
    val out = PipelineQueries.bigramXent(
      Seq((1L, "en", "a b"), (2L, "en", "x"), (3L, "fr", "a b"))
        .toDF("doc_id", "lang", "text"), lambda = 0.7)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(_._1).toSet == Set(1L, 3L))
    // each lang has exactly one bigram (a,b): p = .7*1 + .3*1 = 1 -> nll 0
    assert(out.forall(r => r._3 == 1L && r._4 == 0.0))
  }

  // ---- q124 kmeansAssign -----------------------------------------------------

  test("kmeansAssign: separated groups converge to separate clusters") {
    val emb = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(0.1f, 0.0f)),
      (2L, Array(1.0f, 1.0f)), (3L, Array(0.9f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = PipelineQueries.kmeansAssign(emb, k = 2, iters = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(0L)._1 == out(1L)._1 && out(2L)._1 == out(3L)._1)
    assert(out(0L)._1 != out(2L)._1)
    assert(out(0L)._2 == 0L) // v0 sits exactly on its centroid
  }

  test("kmeansAssign: result is invariant under repartitioning") {
    val base = SparkTestBase.spark.read
      .parquet(s"${SparkTestBase.Sf0001}/embeddings.parquet")
    val a = PipelineQueries.kmeansAssign(base, k = 8, iters = 2).collect().toSeq
    val b = PipelineQueries.kmeansAssign(base.repartition(7), k = 8, iters = 2)
      .collect().toSeq
    assert(a == b)
  }

  // ---- q126 weightedJaccardPairs ---------------------------------------------

  test("weightedJaccard: a shingle present in every doc carries zero weight (boilerplate suppression)") {
    // 'a b c' is shared by all three docs -> idf = ln(4/4) = 0 -> pruned;
    // the remaining shingles are disjoint, so NO pair survives
    val out = PipelineQueries.weightedJaccardPairs(Seq(
      1L -> "a b c x1 y1 z1", 2L -> "a b c x2 y2 z2", 3L -> "a b c x3 y3 z3")
      .toDF("doc_id", "text"), n = 3, tau = 0.01)
    assert(out.count() == 0L)
  }

  test("weightedJaccard: rare-shingle overlap matches the hand calculation") {
    // docs 1/2 share 'p q r' (df=2); their other shingles are unique (df=1)
    val out = PipelineQueries.weightedJaccardPairs(Seq(
      1L -> "p q r s", 2L -> "p q r t", 3L -> "u v w x")
      .toDF("doc_id", "text"), n = 3, tau = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val iShared = math.floor(math.log(4.0 / 3.0) * 1e6 + 0.5).toLong
    val iRare = math.floor(math.log(4.0 / 2.0) * 1e6 + 0.5).toLong
    val wDoc = iShared + iRare
    val jw = iShared.toDouble / (2 * wDoc - iShared).toDouble
    assert(out.toSeq == Seq((1L, 2L, math.floor(jw * 1e4 + 0.5) / 1e4)))
  }

  test("q126's corpus has unique doc_id (the idf's ndocs counts distinct doc_ids)") {
    // weightedPostings counts N as COUNT(DISTINCT doc_id) over the
    // postings, which equals the corpus's doc count only while doc_id is
    // unique per documents row
    val docs = Tables.load(spark, SparkTestBase.Sf0001, "documents")
    assert(docs.count() == docs.select("doc_id").distinct().count())
  }

  // ---- q127 dataset card (via the declared query on a temp table) ------------

  test("datasetCard arithmetic: dup count, discrete median, entropy hand case") {
    // run the same algebra the declared query uses, on a hand corpus:
    // source A: texts "x","x","y y" (en,en,fr)
    val dir = java.nio.file.Files.createTempDirectory("graft_card_").toString
    Seq((1L, "x", "en", "A"), (2L, "x", "en", "A"), (3L, "y y", "fr", "A"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = PipelineQueries.q127DatasetCard(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    val ent = r4(r6(-(2.0 / 3) * math.log(2.0 / 3)) + r6(-(1.0 / 3) * math.log(1.0 / 3)))
    assert(r.getAs[Long]("n_docs") == 3L && r.getAs[Long]("n_tokens") == 4L)
    assert(r.getAs[Long]("dup_docs") == 2L, "both copies of 'x' count as duplicated")
    assert(r.getAs[Long]("median_tokens") == 1L, "discrete median, no interpolation")
    assert(r.getAs[Double]("mean_tokens") == r4(4.0 / 3))
    assert(r.getAs[Long]("n_langs") == 2L)
    assert(r.getAs[Double]("lang_entropy") == ent)
  }

  // ---- q128 mmrSelect --------------------------------------------------------

  test("mmrSelect: greedy pick trades relevance against similarity to the selected set") {
    // anchor = lowest id = vec 0 at (1, 0); it is its own best match, so
    // round 1 picks it (rel = |q|^2). Round 2: every remaining vector
    // scores rel - sim(., v0) = 0 exactly -> tie-break by id picks v1.
    // Round 3: v2 scores 0 (maxsim via v0), v3 scores -0.09e12 (its
    // similarity to v1 exceeds its relevance) -> v2 wins.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.8f, 0.0f)), (3L, Array(0.0f, 0.9f)))
      .toDF("vec_id", "embedding")
    val out = PipelineQueries.mmrSelect(emb, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 0L), (2L, 1L), (3L, 2L)),
      s"unexpected pick order: ${out.toSeq}")
  }

  test("mmrSelect: k larger than the pool returns the whole pool, ranked — no crash") {
    val emb = Seq((7L, Array(1.0f, 0.0f)), (9L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = PipelineQueries.mmrSelect(emb, "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 7L), (2L, 9L)))
  }

  test("mmrSelect: trajectory is invariant under repartitioning") {
    val base = SparkTestBase.spark.read
      .parquet(s"${SparkTestBase.Sf0001}/embeddings.parquet")
    val a = PipelineQueries.mmrSelect(base, "vec_id", "embedding", k = 6).collect().toSeq
    val b = PipelineQueries.mmrSelect(base.repartition(7), "vec_id", "embedding", k = 6)
      .collect().toSeq
    assert(a == b)
  }

  // ---- q129 dedupSpanRewrite -------------------------------------------------

  test("dedupSpanRewrite: removes exactly the covered positions, preserves order and cardinality") {
    val out = PipelineQueries.dedupSpanRewrite(Seq(
      1L -> "a b c d e x y a b c d e",
      2L -> "z a b c d e z2 q w r t y").toDF("doc_id", "text"), L = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // doc 1: covered 0-4 and 7-11 (the q122 hand case) -> 'x y' survives
    assert(out(1L) == ((12L, 2L, "x y")))
    // doc 2: covered 1-5 -> everything else survives in order
    assert(out(2L) == ((12L, 7L, "z z2 q w r t y")))
  }

  test("dedupSpanRewrite: a fully-duplicated doc becomes an empty row, not a missing one") {
    val out = PipelineQueries.dedupSpanRewrite(Seq(
      1L -> "a b c d", 2L -> "a b c d", 3L -> "u v").toDF("doc_id", "text"), L = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((0L, "")) && out(2L) == ((0L, "")))
    assert(out(3L) == ((2L, "u v")), "short docs keep their text untouched")
  }

  // ---- q130 source overlap (via the declared query on a temp table) ----------

  test("sourceOverlap: shared shingles produce the hand-computed Jaccard; disjoint pairs are absent") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ovl_").toString
    Seq((1L, "a b c d e f g h i", "en", "A"),
        (2L, "a b c d e f g h X", "en", "B"),
        (3L, "p q r s t u v w z", "en", "C"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = PipelineQueries.q130SourceOverlap(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    // A/B: each has 2 distinct 8-grams, share exactly 1 -> J = 1/3
    assert(out.toSeq == Seq(("A", "B", 1L, 2L, 2L,
      math.floor(1.0 / 3 * 1e4 + 0.5) / 1e4)), s"got ${out.toSeq}")
  }

  // ---- q131 quality blend ----------------------------------------------------

  test("qualityBlend: rank fractions span [0,1] per language and the gate follows the composite") {
    val rows = PipelineQueries.q131QualityBlend(spark, SparkTestBase.Sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      for (c <- Seq("pr_xent", "pr_rep", "len_dev", "composite")) {
        val v = r.getAs[Double](c)
        assert(v >= 0.0 && v <= 1.0, s"$c out of range: $v")
      }
      assert(r.getAs[Boolean]("keep") == (r.getAs[Double]("composite") <= 0.5))
    }
    // within each language the extreme xent docs pin the rank ends
    rows.groupBy(_.getAs[String]("lang")).foreach { case (_, rs) =>
      if (rs.length > 1) {
        assert(rs.minBy(r => (r.getAs[Double]("xent"), r.getAs[Long]("doc_id")))
          .getAs[Double]("pr_xent") == 0.0)
        assert(rs.maxBy(r => (r.getAs[Double]("xent"), r.getAs[Long]("doc_id")))
          .getAs[Double]("pr_xent") == 1.0)
      }
    }
  }

  // ---- q132 held-out LM ------------------------------------------------------

  test("heldoutLm: split, Laplace smoothing and OOV accounting match the hand calculation") {
    // buckets (id*25173 % 65536): 1->25173 train, 2->50346 TEST,
    // 3->9983 train, 4->35156 train
    val dir = java.nio.file.Files.createTempDirectory("graft_lm_").toString
    Seq((1L, "a a b", "en"), (2L, "a c", "en"), (3L, "a", "en"), (4L, "b", "en"))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = PipelineQueries.q132HeldoutLm(spark, dir).collect()
    assert(out.length == 1 && out.head.getLong(0) == 2L, "only doc 2 is held out")
    val r = out.head
    // train: cnt(a)=3, cnt(b)=2, tot=5, V=2 -> p(a)=4/8, p(OOV)=1/8
    def nll6(p: Double) = math.floor(-math.log(p) * 1e6 + 0.5) / 1e6
    val xent = math.floor((nll6(0.5) + nll6(0.125)) / 2 * 1e4 + 0.5) / 1e4
    assert(r.getLong(2) == 2L && r.getLong(3) == 1L, "one of two tokens is OOV")
    assert(r.getDouble(4) == xent, s"got ${r.getDouble(4)}, want $xent")
  }

  // ---- q133 PMI collocations -------------------------------------------------

  test("pmiCollocations: min support and the PMI hand calculation") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pmi_").toString
    // 'new york' x5 -> c12=5 passes support; 'york new' x4 filtered
    Seq((1L, "new york new york new york new york new york", "en"))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = PipelineQueries.q133PmiCollocations(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getDouble(5)))
    // c1(new)=5, c2(york)=5, T=9 -> PMI = ln(5/5 * 9/5)
    val pmi = math.floor(math.log(9.0 / 5.0) * 1e4 + 0.5) / 1e4
    assert(out.toSeq == Seq(("en", 1L, "new", "york", 5L, pmi)), s"got ${out.toSeq}")
  }

  // ---- q134 interleave order -------------------------------------------------

  test("interleaveOrder: rounds are non-decreasing and sources rotate within a round") {
    val rows = PipelineQueries.q134InterleaveOrder(spark, SparkTestBase.Sf0001)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
    assert(rows.nonEmpty && rows.map(_._1).toSeq == (1L to rows.length).toSeq)
    rows.sliding(2).foreach { case Array((_, s1, r1), (_, s2, r2)) =>
      assert(r2 >= r1, "round numbers must be non-decreasing in position order")
      if (r1 == r2) assert(s2 > s1, "within a round, sources strictly ascend (rotation)")
    }
    // round 1 contains every source exactly once
    val firstRound = rows.filter(_._3 == 1L).map(_._2)
    assert(firstRound.distinct.length == firstRound.length)
  }

  // ---- q135 compression ratio ------------------------------------------------

  test("compressionRatio: repetitive text compresses far below prose; determinism across calls") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gz_").toString
    val noise = (1 to 60).map(i => ((i * 2654435761L) % 99991).toString).mkString(" ")
    Seq((1L, ("spam " * 200).trim, "en"),
        (2L, noise, "en"))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = PipelineQueries.q135CompressionRatio(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(1L) < 0.1, s"200x-repeated token must deflate hard: ${out(1L)}")
    assert(out(2L) > out(1L) * 3, s"noisy digits must compress far less: $out")
    val again = PipelineQueries.q135CompressionRatio(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(again == out, "deflate output must be call-to-call deterministic")
  }

  test("compressionRatio: empty and null text keep their rows (null ratio, keep=false)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gz0_").toString
    Seq((1L, "", "en"), (2L, null.asInstanceOf[String], "en"), (3L, "a b c", "en"))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = PipelineQueries.q135CompressionRatio(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.isNullAt(3), r.getBoolean(4))))
      .toMap
    assert(out.keySet == Set(1L, 2L, 3L), "corpus cardinality preserved")
    assert(out(1L) == ((0L, true, false)) && out(2L) == ((0L, true, false)))
    assert(out(3L)._1 > 0L && !out(3L)._2)
  }

  test("dupSpansHashed (the 100-TB hash-domain form) equals the content-domain result") {
    val docs = SparkTestBase.spark.read
      .parquet(s"${SparkTestBase.Sf0001}/documents.parquet")
      .select($"doc_id", $"text")
    val a = PipelineQueries.dupSpans(docs, L = 16).collect().toSeq
    val b = PipelineQueries.dupSpansHashed(docs, L = 16).collect().toSeq
    assert(a == b, "xxhash64 window fingerprints must reproduce the content grouping")
  }

  /** Quantified content-vs-hash divergence at adversarial + 10× scale
    * (round-8 verdict item 6). Divergence = rows where the two domains
    * disagree; the 64-bit collision bound (≈ n²/2⁶⁵ for ~10⁶ windows)
    * predicts EXACTLY 0, and the assertions print the observed count so
    * a future hash change that breaks discrimination is measured, not
    * just failed. */
  test("dupSpansHashed divergence is 0 under engineered near-collisions") {
    // adversarial shapes: windows at Hamming distance 1 in token space
    // (one token substituted per variant) — the closest content can get
    // to a collision without being one; plus genuine dups within one doc,
    // across docs, and a repeated variant that MUST stay flagged.
    val base = (1 to 16).map(i => s"w$i")
    def doc(id: Long, toks: Seq[String]) = (id, toks.mkString(" "))
    val rows =
      Seq(doc(1L, base ++ base),                    // within-doc repeat
          doc(2L, base),                            // cross-doc dup of 1
          doc(100L, base.updated(7, "rep") ++ base.updated(7, "rep"))) ++ // dup'd variant
      (0 until 16).map(p => doc(10L + p, base.updated(p, s"x$p"))) // 16 singletons
    val docs = rows.toDF("doc_id", "text")
    val a = PipelineQueries.dupSpans(docs, L = 16).collect().toSeq
    val b = PipelineQueries.dupSpansHashed(docs, L = 16).collect().toSeq
    val diverged = a.zip(b).count { case (x, y) => x != y }
    assert(a.size == b.size && diverged == 0,
      s"hash domain diverged on $diverged/${a.size} adversarial rows")
    val byId = a.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(byId(2L) > 0, "cross-doc duplicate window must be flagged")
    assert(byId(100L) > 0, "repeated one-token variant must be flagged")
    (0 until 16).foreach(p => assert(byId(10L + p) == 0,
      s"singleton Hamming-1 variant at position $p must NOT be flagged"))
  }

  test("dupSpansHashed divergence is 0 at 10x the driver-gate corpus (sf0.1)") {
    val docs = SparkTestBase.spark.read
      .parquet("/root/testdata/sf0.1/documents.parquet")
      .select($"doc_id", $"text")
    val a = PipelineQueries.dupSpans(docs, L = 16).collect().toSeq
    val b = PipelineQueries.dupSpansHashed(docs, L = 16).collect().toSeq
    val diverged = a.zip(b).count { case (x, y) => x != y }
    assert(a.size == b.size && diverged == 0,
      s"hash domain diverged on $diverged/${a.size} rows at sf0.1")
  }

  test("weightedJaccardPairsPruned equals the declared form (real corpus + boilerplate flood)") {
    // real corpus parity
    val corpus = SparkTestBase.spark.read
      .parquet(s"${SparkTestBase.Sf0001}/documents.parquet")
      .select($"doc_id", $"text")
    val a = PipelineQueries.weightedJaccardPairs(corpus, n = 3, tau = 0.3)
      .collect().toSeq
    val b = PipelineQueries.weightedJaccardPairsPruned(corpus, n = 3, tau = 0.3)
      .collect().toSeq
    assert(a == b, s"pruned form diverges on the real corpus (${a.size} vs ${b.size} rows)")
    // adversarial shape: every doc shares one heavy boilerplate template
    // (the flood the unpruned self-join pays f² for) plus distinct
    // content; two docs additionally share their content tail and must
    // be the ONLY qualifying pair in both forms
    val boiler = (1 to 20).map(i => s"b$i").mkString(" ")
    val rows = (1L to 30L).map { id =>
      val content =
        if (id <= 2) "shared content tail one two three four five six seven eight nine ten"
        else (1 to 12).map(j => s"u${id}_$j").mkString(" ")
      (id, s"$boiler $content")
    }
    val docs = rows.toDF("doc_id", "text")
    val x = PipelineQueries.weightedJaccardPairs(docs, n = 3, tau = 0.3).collect().toSeq
    val y = PipelineQueries.weightedJaccardPairsPruned(docs, n = 3, tau = 0.3).collect().toSeq
    assert(x == y, s"pruned form diverges on the boilerplate corpus (${x.size} vs ${y.size})")
    assert(x.map(r => (r.getLong(0), r.getLong(1))) == Seq((1L, 2L)),
      s"exactly the content-sharing pair must qualify: ${x.toList}")
  }

  test("weightedJaccardPairsAuto: measured pair mass picks the declared form " +
       "on the real corpus and the prefix filter on a boilerplate flood") {
    val corpus = SparkTestBase.spark.read
      .parquet(s"${SparkTestBase.Sf0001}/documents.parquet")
      .select($"doc_id", $"text")
    // real corpus: idf pruning leaves a sub-linear pair mass -> declared
    assert(!PipelineQueries.weightedFormIsPruned(corpus, n = 3))
    // flood: 100 docs sharing a 30-shingle template that SURVIVES the idf
    // cut (df=100 < N so iw>0) -> pair mass ~ 30·C(100,2) = 148500,
    // ~1470/doc >> the 512/doc budget
    val boiler = (1 to 32).map(i => s"b$i").mkString(" ")
    val rows = (1L to 100L).map(id => (id, s"$boiler u$id")) :+
      (999L, (1 to 40).map(j => s"v$j").mkString(" ")) // one non-template doc
    val flood = rows.toDF("doc_id", "text")
    assert(PipelineQueries.weightedFormIsPruned(flood, n = 3))
    // the selection is cost-only: auto output == declared output on both
    val got = PipelineQueries.weightedJaccardPairsAuto(flood, n = 3, tau = 0.3)
      .collect().toSeq
    val want = PipelineQueries.weightedJaccardPairs(flood, n = 3, tau = 0.3)
      .collect().toSeq
    assert(got == want)
  }

  test("weightedJaccardPairsAuto: a TRUE-duplicate flood (byte-identical " +
       "replicas) stays on the declared form — exact-dup mass is unprunable " +
       "and the refined signal subtracts it") {
    // 20 distinct base docs × 30 byte-identical replicas each: raw pair
    // mass ≈ C(30,2)·postings ≫ 512·N (the raw-mass rule would prefix-filter,
    // measured 17× slower at the sf1-equivalent blow-up), but every pair
    // is an exact duplicate sharing its full posting set — residual
    // boilerplate mass ≈ 0, so the refined decision keeps the self-join
    val base = (1 to 20).map(i =>
      (1 to 48).map(j => s"w${i}_$j").mkString(" "))
    val rows = for (r <- 0 until 30; (t, i) <- base.zipWithIndex)
      yield ((r * 100 + i).toLong, t)
    val replicas = rows.toDF("doc_id", "text")
    // raw mass really floods (the first gate trips): every shingle has
    // df=30 -> mass = 46·C(30,2)·20 = 400200 > 512·600 = 307200
    assert(PipelineQueries.weightedPairMass(replicas, 3)._1 > 512L * 600L)
    assert(!PipelineQueries.weightedFormIsPruned(replicas, n = 3),
      "replica flood must NOT pick the prefix filter")
    // and a boilerplate flood still does (regression guard for the
    // refinement: dup subtraction must not kill the designed case)
    val boiler = (1 to 32).map(i => s"b$i").mkString(" ")
    val brows = (1L to 100L).map(id => (id, s"$boiler u$id")) :+
      (999L, (1 to 40).map(j => s"v$j").mkString(" "))
    assert(PipelineQueries.weightedFormIsPruned(brows.toDF("doc_id", "text"), n = 3))
  }

  test("weightedJaccardPairsAuto: MIXED corpus — short byte-identical " +
       "replicas plus a long-doc boilerplate flood still picks the prefix " +
       "filter (per-group dup mass, not a global average, is subtracted)") {
    // 10 SHORT bases (6 tokens → 4 postings) × 200 replicas: a large
    // dup-PAIR count (10·C(200,2) ≈ 199k) carrying tiny per-pair posting
    // mass (×4 ≈ 0.8M); 250 LONG docs sharing a 60-shingle template: a
    // genuinely prunable flood (60·C(250,2) ≈ 1.87M) against a
    // 512·N ≈ 1.15M budget. The retired global-average approximation
    // (avg postings ≈ 10, pulled up 2.5× by the long docs) would have
    // subtracted ≈ 2.0M from the 2.66M raw mass and kept the measured-
    // slower unpruned self-join on this flood; the per-group subtraction
    // removes only the true 0.8M and correctly prunes — the ADVICE-
    // flagged over-subtraction case, now a pinned behavior.
    val shortBase = (1 to 10).map(i =>
      (1 to 6).map(j => s"s${i}_$j").mkString(" "))
    val dups = for (r <- 0 until 200; (t, i) <- shortBase.zipWithIndex)
      yield ((r * 100 + i).toLong, t)
    val boiler = (1 to 62).map(i => s"b$i").mkString(" ")
    val floods = (100000L until 100250L).map(id => (id, s"$boiler u$id"))
    val mixed = (dups ++ floods).toDF("doc_id", "text")
    assert(PipelineQueries.weightedFormIsPruned(mixed, n = 3),
      "mixed short-dup + long-boilerplate corpus must pick the prefix filter")
  }

  // ---- q136 Zipf slope -------------------------------------------------------

  test("zipfSlope: two-point hand case and negative slope on the real corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zipf_").toString
    Seq((1L, "a a a b", "en"))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = PipelineQueries.q136ZipfSlope(spark, dir).collect()
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    // points: (x=ln1=0, y=ln3), (x=ln2, y=ln1=0) -> slope -ln3/ln2 on r6'd terms
    val slope = -r6(math.log(3)) / r6(math.log(2))
    assert(out.length == 1 && out.head.getLong(1) == 2L)
    assert(out.head.getDouble(2) == math.floor(slope * 1e4 + 0.5) / 1e4)
    // the real corpus must look Zipf-ish: strictly negative everywhere
    PipelineQueries.q136ZipfSlope(spark, SparkTestBase.Sf0001).collect()
      .foreach(r => assert(r.getDouble(2) < 0.0, s"non-negative slope: $r"))
  }

  test("dupSpans: docs shorter than L report zeros, not missing rows") {
    val out = spans(Seq(1L -> "a b", 2L -> "a b"), l = 4)
    assert(out(1L) == ((2L, 0L, 0L)) && out(2L) == ((2L, 0L, 0L)))
  }

  // ---- q156 signed random projection ----------------------------------------

  test("q156: every projection value matches an exact integer replay, and " +
       "the sketch preserves squared norms on average (the JL contract)") {
    val emb = Tables.load(spark, SparkTestBase.Sf0001, "embeddings")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Double](1).map(x => math.floor(x * 1e6 + 0.5).toLong).toArray))
    val expected = emb.flatMap { case (id, q) =>
      (1 to 8).map { j =>
        val p = q.indices.map { i0 =>
          val i = i0 + 1
          q(i0) * (if ((i.toLong * 40503L + j.toLong * 69621L) % 65536L < 32768L) 1L else -1L)
        }.sum
        (id, j.toLong, p)
      }
    }.toSeq.sorted
    val got = PipelineQueries.q156RandomProjection(spark, SparkTestBase.Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    // JL isometry-in-expectation: E[p_j^2] = ||q||^2 for ±1 signs, so the
    // per-corpus mean of (1/k)Σ_j p_j^2 / ||q||^2 must sit near 1 — a
    // deterministic check that the sign matrix actually mixes (a constant
    // or rank-deficient sign pattern fails it badly)
    val ratios = emb.map { case (id, q) =>
      val n2 = q.map(x => BigInt(x) * BigInt(x)).sum
      val p2 = expected.filter(_._1 == id).map(t => BigInt(t._3) * BigInt(t._3)).sum
      (BigDecimal(p2) / 8 / BigDecimal(n2)).toDouble
    }
    val mean = ratios.sum / ratios.length
    assert(mean > 0.5 && mean < 2.0, s"JL mean energy ratio off: $mean")
  }

  // ---- q157 exact kNN graph --------------------------------------------------

  test("q157: the kNN graph matches a brute-force integer-L2 replay and " +
       "the cross-tile merge engages TopKPerKey") {
    val emb = Tables.load(spark, SparkTestBase.Sf0001, "embeddings")
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Double](1).map(x => math.floor(x * 1e6 + 0.5).toLong).toArray))
    val expected = emb.flatMap { case (id, q) =>
      emb.filter(_._1 != id).map { case (nbr, p) =>
        val d2 = q.indices.map { i => val d = q(i) - p(i); d * d }.sum
        (id, nbr, d2)
      }.sortBy { case (_, nbr, d2) => (d2, nbr) }.take(3).zipWithIndex
        .map { case ((vid, nbr, d2), i) => (vid, i + 1L, nbr, d2) }
    }.toSeq.sorted
    val df = PipelineQueries.q157KnnGraph(spark, SparkTestBase.Sf0001)
    assert(df.queryExecution.optimizedPlan.toString.contains("TopKPerKey"),
      "the cross-tile merge must plan through the custom operator")
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
    // graph sanity: every vector has exactly k neighbors, none itself
    assert(got.groupBy(_._1).values.forall(_.length == 3))
    assert(got.forall { case (v, _, n, _) => v != n })
  }

  test("q157: multi-tile execution emits the identical graph (tile " +
       "membership must not leak into the result)") {
    val emb = Tables.load(spark, SparkTestBase.Sf0001, "embeddings")
    val one = graft.ops.Similarity.knnGraph(emb, "vec_id", "embedding", k = 3)
      .collect().map(_.toSeq).toSeq
    val many = graft.ops.Similarity.knnGraph(emb, "vec_id", "embedding", k = 3,
      maxBroadcastRows = 100L).collect().map(_.toSeq).toSeq
    assert(one == many)
  }

  // ---- q162 nearest-centroid evaluation --------------------------------------

  test("q162: the confusion matrix matches an exact integer replay " +
       "(label-fitted floor-mean centroids, argmin with pred tie-break)") {
    val emb = Tables.load(spark, SparkTestBase.Sf0001, "embeddings")
      .selectExpr("vec_id", "CAST(label AS BIGINT)", "CAST(embedding AS ARRAY<DOUBLE>)")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Double](2).map(x => math.floor(x * 1e6 + 0.5).toLong).toArray))
    val cents = emb.groupBy(_._2).view.mapValues { vs =>
      val d = vs.head._3.length
      (0 until d).map { i =>
        math.floor(vs.map(_._3(i)).sum.toDouble / vs.length + 0.5).toLong
      }.toArray
    }.toMap
    val preds = emb.map { case (id, label, q) =>
      val best = cents.toSeq.map { case (l, c) =>
        (q.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum, l)
      }.min
      (label, best._2)
    }
    val expected = preds.groupBy(identity).toSeq
      .map { case ((l, p), vs) => (l, p, vs.length.toLong, l == p) }
      .sortBy(r => (r._1, r._2))
    val got = PipelineQueries.q162CentroidEval(spark, SparkTestBase.Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSeq
    assert(got == expected)
    assert(got.map(_._3).sum == emb.length.toLong)
  }

  test("q162 plan: the centroid table broadcasts into the assignment " +
       "stream (k-row build side, no corpus-sized shuffle)") {
    val p = graft.SparkEntry.queries("q162_centroid_eval")(spark, SparkTestBase.Sf0001)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("q156 plan: the k x d multiply is row-local — zero exchanges before " +
       "the declared ORDER BY") {
    val p = graft.SparkEntry.queries("q156_random_projection")(spark, SparkTestBase.Sf0001)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val n = p.linesIterator.count(_.contains(") Exchange"))
    assert(n == 1, s"expected exactly the final sort exchange, got $n:\n$p")
  }
}
