package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.rel.Tables

/** Specs for the LLM-data-pipeline operators: correctness on synthetic
  * micro-data plus scale-path (LSH) recall against the exact forms on the
  * driver test tables. */
class OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  private def docs = Tables.load(spark, SparkTestBase.Sf0001, "documents")
  private def embs = Tables.load(spark, SparkTestBase.Sf0001, "embeddings")

  test("exactKeepFirst keeps the deterministic representative") {
    import spark.implicits._
    val df = Seq((1L, "a", 3L), (2L, "a", 1L), (3L, "b", 5L), (4L, "a", 1L))
      .toDF("id", "k", "ord")
    val kept = Dedup.exactKeepFirst(df, Seq("k"), Seq(col("ord"), col("id")))
      .select("id").orderBy("id").as[Long].collect().toSeq
    assert(kept == Seq(2L, 3L)) // (ord=1, id=2) beats (ord=1, id=4)
  }

  test("shingles: trigrams, distinct, short-text guard") {
    import spark.implicits._
    val out = Seq("a b c d", "a b", "a b c a b c")
      .toDF("t").select(Dedup.shingles(col("t"), 3).as("s"))
      .as[Seq[String]].collect().toSeq
    assert(out(0) == Seq("a b c", "b c d"))
    assert(out(1) == Seq.empty)
    assert(out(2) == Seq("a b c", "b c a", "c a b")) // distinct
  }

  test("jaccardPairs: known-overlap micro case") {
    import spark.implicits._
    val df = Seq((1L, "w x y z q"), (2L, "w x y z r"), (3L, "p q r s t"))
      .toDF("doc_id", "text")
    // doc1 shingles {wxy,xyz,yzq}, doc2 {wxy,xyz,yzr}: inter 2, union 4 -> 0.5
    val pairs = Dedup.jaccardPairs(df, "doc_id", "text", 3, 0.4)
      .orderBy("d1", "d2").collect()
    assert(pairs.length == 1)
    assert(pairs(0).getAs[Long]("d1") == 1L && pairs(0).getAs[Long]("d2") == 2L)
    assert(math.abs(pairs(0).getAs[Double]("jaccard") - 0.5) < 1e-9)
  }

  test("jaccardPairs equals brute-force O(n^2) Jaccard on seeded random docs") {
    // small vocabulary forces heavy shingle sharing — the adversarial case
    // for prefix filtering; every pair >= tau found by brute force must
    // survive the pruned path, and vice versa (exactness, not recall)
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    def randTokens(len: Int) = (0 until len).map(_ => vocab(rnd.nextInt(vocab.size)))
    // 40 random bases + 2 lightly-mutated variants each: guaranteed
    // high-Jaccard pairs plus plenty of borderline shingle sharing
    val docsRnd = (0 until 40).flatMap { i =>
      val base = randTokens(12 + rnd.nextInt(12)).toArray
      val variants = (1 to 2).map { v =>
        val m = base.clone()
        (0 until rnd.nextInt(4)).foreach { _ =>
          m(rnd.nextInt(m.length)) = vocab(rnd.nextInt(vocab.size))
        }
        (i * 3L + v, m.mkString(" "))
      }
      (i * 3L, base.mkString(" ")) +: variants
    }
    val tau = 0.5
    val got = Dedup.jaccardPairs(docsRnd.toDF("doc_id", "text"), "doc_id", "text", 3, tau)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sets = docsRnd.map { case (id, t) => id -> Dedup.shinglesFromText(t, 3).toSet }
      .filter(_._2.nonEmpty)
    val want = (for {
      (i, si) <- sets; (j, sj) <- sets if i < j
      inter = (si & sj).size
      j2 = inter.toDouble / (si | sj).size if j2 >= tau
    } yield (i, j, math.floor(j2 * 10000.0 + 0.5) / 10000.0)).toSet
    assert(want.nonEmpty, "seed produced no qualifying pairs — test is vacuous")
    assert(got == want)
  }

  test("jaccardPairs: sampled hot-discovery path emits the identical pair set") {
    // force the sampling branch (fraction << 1) on the 500-doc fixture: a
    // different-but-consistent global shingle order must leave the final
    // verified pairs unchanged
    val exactPath = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sampledPath = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8,
        hotSampleTarget = 50L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exactPath.nonEmpty)
    assert(sampledPath == exactPath)
  }

  test("jaccardPairs: hot-map cap overflow (maxHotShingles < hot count) stays exact") {
    // when more shingles exceed hotThreshold than the cap admits, the
    // overflow shingles silently rank as cold (freq 1) in the global
    // order — selectivity degrades but exactness must not: the verified
    // pair set is invariant under ANY consistent total order
    val exactPath = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val cappedPath = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8,
        hotThreshold = 1L, maxHotShingles = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exactPath.nonEmpty)
    assert(cappedPath == exactPath)
  }

  test("minhash LSH recall >= 0.9 vs exact Jaccard pairs on documents") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Dedup.minhashCandidates(docs, "doc_id", "text", 3, 0.8)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall, exact=${exact.size}, approx=${approx.size}")
  }

  test("simhash: identical token streams collide, near-dups within Hamming 3") {
    assert(Dedup.simhash64(Seq("a", "b", "c")) == Dedup.simhash64(Seq("a", "b", "c")))
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", 3).collect()
    assert(pairs.nonEmpty) // the generator plants near-identical docs
    assert(pairs.forall(_.getAs[Int]("hamming") <= 3))
  }

  test("cosine column matches a plain Scala computation") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b"))).as[Double].collect()(0)
    val want = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(got - want) < 1e-12)
  }

  test("shingleHashes == fnv64 of the string shingles (hash-domain consistency)") {
    val texts = Seq("a b c d e", "x y", "", "w w w w", "a b c a b c d")
    texts.foreach { t =>
      val strs = Dedup.shinglesFromText(t, 3).map(Dedup.fnv64).toSeq
      assert(Dedup.shingleHashes(t, 3).toSeq == strs, s"text: '$t'")
    }
  }

  test("cosinePairs: multi-tile broadcast emits the identical pair set") {
    val one = Similarity.cosinePairs(embs, "vec_id", "embedding", tau = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // force several tiles on the 500-row fixture
    val tiled = Similarity.cosinePairs(embs, "vec_id", "embedding", tau = 0.4,
        maxBroadcastRows = 64L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(one.nonEmpty)
    assert(tiled == one)
  }

  test("ANN-LSH recall >= 0.6 of brute-force top-5 on embeddings") {
    val qids = (0L until 10L)
    val bf = Similarity.cosineTopK(embs, "vec_id", "embedding", qids, 5)
      .select("qid", "cand").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annTopK(embs, "vec_id", "embedding", qids, 5)
      .select("qid", "cand").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = bf.count(ann.contains).toDouble / bf.size
    assert(recall >= 0.6, s"ANN recall $recall")
  }

  test("IVF ANN recall >= 0.7 of brute-force top-5; probes only nProbe/nCells") {
    val qids = (0L until 10L)
    val bf = Similarity.cosineTopK(embs, "vec_id", "embedding", qids, 5)
      .select("qid", "cand").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(embs, "vec_id", "embedding", qids, 5)
      .select("qid", "cand").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = bf.count(ivf.contains).toDouble / bf.size
    assert(recall >= 0.7, s"IVF recall $recall")
  }

  test("PQ ANN recall >= 0.6 of brute-force top-5 (retrieve-then-rerank)") {
    val qids = (0L until 10L)
    val bf = Similarity.cosineTopK(embs, "vec_id", "embedding", qids, 5)
      .select("qid", "cand").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(embs, "vec_id", "embedding", qids, 5)
      .select("qid", "cand").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = bf.count(pq.contains).toDouble / bf.size
    assert(recall >= 0.6, s"PQ recall $recall")
  }

  // bound from the round-8 recall sweep (residual codes, nProbe=10/
  // rerank=16 defaults: sf0.001 recall 0.95, sf0.1 0.92) — see ivfPqTopK's
  // Scaladoc for the full grid and the residual-vs-plain code A/B
  test("IVF-PQ ANN recall >= 0.85 of brute-force top-5 (cells prune, residual codes score, exact re-rank)") {
    val qids = (0L until 10L)
    val bf = Similarity.cosineTopK(embs, "vec_id", "embedding", qids, 5)
      .select("qid", "cand").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = Similarity.ivfPqTopK(embs, "vec_id", "embedding", qids, 5)
      .select("qid", "cand").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = bf.count(ivfpq.contains).toDouble / bf.size
    assert(recall >= 0.85, s"IVF-PQ recall $recall")
  }

  test("ivfTopK quantizer cache: changed corpus under a reused key matches a fresh fit") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def mkCorpus(n: Int, shift: Double) = (0L until n.toLong).map { i =>
      (i, Array.fill(8)(rnd.nextGaussian() + shift).toSeq)
    }.toDF("vec_id", "embedding")
    val key = "ivf-staleness-" + System.nanoTime()
    val qids = Seq(0L, 1L)
    val a = mkCorpus(60, 0.0)
    Similarity.ivfTopK(a, "vec_id", "embedding", qids, 3,
      nCells = 4, corpusKey = Some(key)).collect() // populates the cache
    // a DIFFERENT corpus (different count) under the same caller key must
    // not be served corpus-A centroids: results must equal a fresh fit
    val b = mkCorpus(90, 5.0)
    val stalePath = Similarity.ivfTopK(b, "vec_id", "embedding", qids, 3,
      nCells = 4, corpusKey = Some(key))
      .orderBy("qid", "rn").collect().map(_.toSeq).toSeq
    val freshPath = Similarity.ivfTopK(b, "vec_id", "embedding", qids, 3,
      nCells = 4, corpusKey = None)
      .orderBy("qid", "rn").collect().map(_.toSeq).toSeq
    assert(stalePath == freshPath,
      "row-count fingerprint must refit the quantizer for a changed corpus")
    Similarity.clearCaches() // the same-count-rewrite hook stays callable
  }

  test("warm ANN model resolution: cache hit costs a pruned count + query fetch, " +
    "never a corpus decode pass") {
    val key = "warm-discipline-" + System.nanoTime()
    val qids = Seq(0L, 1L, 2L)
    // one stable frame for both calls: `embs` is a def (fresh parquet
    // load per access), and a fresh load adds a schema-read job that
    // would pollute the warm-path job ledger below
    val corpus = embs
    // cold call fits + caches BOTH models (coarse centroids, residual PQ)
    val cold = Similarity.ivfPqTopK(corpus, "vec_id", "embedding", qids, 3,
      corpusKey = Some(key)).orderBy("qid", "rn").collect().map(_.toSeq).toSeq
    // warm call: every job the EAGER phase (model resolution) runs is
    // tagged with this group; the returned plan itself stays lazy. The
    // contract under test: a double cache hit costs at most (1) the raw
    // count(1) fingerprint job — usually memoized away entirely by the
    // ModelStore file-state memo, leaving only — (2) the query-vector
    // collect; NEVER a normalization pass or a residual pass over the
    // corpus (which is what an O(corpus) fingerprint would cost per
    // batch at 100 TB).
    val group = "warm-ann-" + System.nanoTime()
    spark.sparkContext.setJobGroup(group, "warm ANN model resolution", false)
    val warmDf =
      try Similarity.ivfPqTopK(corpus, "vec_id", "embedding", qids, 3,
        corpusKey = Some(key))
      finally spark.sparkContext.clearJobGroup()
    // statusTracker is fed by the async listener bus: drain to
    // quiescence via the SHARED rule (BenchUtil.pollQuiescent — the same
    // helper Bench's njobs ledger uses, so a race fix lands in both).
    // Exiting on first sight of 1 would let late-surfacing extra jobs
    // (the regression this test exists for) escape the ledger. Floor is
    // 1 (the query-vector collect): the fingerprint count job is gone
    // on a memo hit, so requiring 2 would deadlock the poll.
    def groupJobs() = spark.sparkContext.statusTracker.getJobIdsForGroup(group)
    val (_, settled) = graft.BenchUtil.pollQuiescent(
      () => groupJobs().length, minValue = 1)
    assert(settled, "status tracker never went quiescent — job ledger unreadable")
    val stages = groupJobs().flatMap(j =>
      spark.sparkContext.statusTracker.getJobInfo(j).toSeq.flatMap(_.stageIds()))
      .flatMap(sid => spark.sparkContext.statusTracker.getStageInfo(sid).toSeq)
      .map(_.name()).toSeq
    // a model refit would drag in KMeans jobs; a reintroduced O(corpus)
    // fingerprint would add a third action beyond count + collect (AQE
    // may wrap the count in one extra result job, hence <= 3)
    assert(groupJobs().length <= 3 && stages.forall(!_.contains("KMeans")),
      s"warm model resolution ran ${groupJobs().length} jobs " +
        s"(want <=3: fingerprint count + query-vector fetch; stages: " +
        stages.mkString("; ") + ")")
    // and the warm plan still computes the cold answer
    val warm = warmDf.orderBy("qid", "rn").collect().map(_.toSeq).toSeq
    assert(warm == cold, "warm cache-hit path must reproduce the cold result")
    Similarity.clearCaches()
  }

  test("multimodal: stub kernels deterministic; extractFeatures end-to-end") {
    import spark.implicits._
    val f1 = Multimodal.MediaKernels.featurize("hello world".getBytes("UTF-8"))
    val f2 = Multimodal.MediaKernels.featurize("hello world".getBytes("UTF-8"))
    assert(f1.toSeq == f2.toSeq && f1.length == 8)
    assert(Multimodal.MediaKernels.resizeDims(4000, 2000, 1000) == ((1000, 500)))
    assert(Multimodal.MediaKernels.resizeDims(300, 200, 1000) == ((300, 200)))
    assert(Multimodal.MediaKernels.framePositions(100, 4) == Seq(0L, 25L, 50L, 75L))
    val media = Multimodal.mediaFromDocuments(spark, docs.limit(3))
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 3)
    assert(feats.forall(f => f.n_bytes > 0 && f.checksum.length == 32 && f.feature.length == 8))
  }

  test("PPM codec: round-trip, comment/whitespace headers, malformed → None") {
    import Multimodal.{DecodedImage, MediaKernels}
    val px = Array.tabulate[Byte](2 * 3 * 3)(i => (i * 40).toByte)
    val img = DecodedImage(2, 3, 255, px)
    val rt = MediaKernels.decodePpm(MediaKernels.encodePpm(img)).get
    assert(rt.width == 2 && rt.height == 3 && rt.maxVal == 255)
    assert(rt.pixels.toSeq == px.toSeq)
    // netpbm grammar: comments between tokens, arbitrary whitespace runs
    val commented = ("P6\n# a comment\n 2 # w\n\t3\r\n255\n").getBytes("US-ASCII") ++ px
    val dc = MediaKernels.decodePpm(commented).get
    assert(dc.width == 2 && dc.height == 3 && dc.pixels.toSeq == px.toSeq)
    assert(MediaKernels.decodePpm("P5\n2 3\n255\n".getBytes("US-ASCII")).isEmpty) // wrong magic
    assert(MediaKernels.decodePpm(("P6\n2 3\n255\n").getBytes("US-ASCII") ++ px.take(5)).isEmpty) // truncated raster
    assert(MediaKernels.decodePpm("P6\n2 3\n65535\n".getBytes("US-ASCII") ++ px).isEmpty) // 16-bit maxval unsupported
    assert(MediaKernels.decodePpm(Array.empty[Byte]).isEmpty)
    // hostile dims whose w*h*3 wraps Int must read as malformed, not throw
    assert(MediaKernels.decodePpm(("P6\n46341 46341\n255\n").getBytes("US-ASCII") ++ px).isEmpty)
    assert(MediaKernels.decodePpm(("P6\n99999999999999999 2\n255\n").getBytes("US-ASCII") ++ px).isEmpty)
  }

  test("BMP codec: round-trip with row padding, top-down variant, malformed → None") {
    import Multimodal.{DecodedImage, MediaKernels}
    // w=3 -> 9-byte rows padded to 12: the padding walk is exercised
    val px = Array.tabulate[Byte](3 * 2 * 3)(i => (i * 13 + 7).toByte)
    val img = DecodedImage(3, 2, 255, px)
    val bmp = MediaKernels.encodeBmp(img)
    val rt = MediaKernels.decodeBmp(bmp).get
    assert(rt.width == 3 && rt.height == 2)
    assert(rt.pixels.toSeq == px.toSeq) // bottom-up + BGR undone exactly
    // top-down variant: negative height in the info header
    val td = bmp.clone()
    // height i32 at offset 22 = -2 little-endian; rows already bottom-up in
    // the buffer, so decoding top-down must yield the REVERSED row order
    td(22) = (-2 & 0xFF).toByte; td(23) = 0xFF.toByte; td(24) = 0xFF.toByte; td(25) = 0xFF.toByte
    val tdImg = MediaKernels.decodeBmp(td).get
    val rows = px.grouped(3 * 3).toSeq
    assert(tdImg.pixels.toSeq == (rows(1) ++ rows(0)).toSeq)
    assert(MediaKernels.decodeBmp("XX".getBytes("US-ASCII")).isEmpty)
    assert(MediaKernels.decodeBmp(bmp.take(40).toArray).isEmpty) // truncated header
    assert(MediaKernels.decodeBmp(bmp.take(60).toArray).isEmpty) // truncated raster
    val bpp8 = bmp.clone(); bpp8(28) = 8 // non-24-bit
    assert(MediaKernels.decodeBmp(bpp8).isEmpty)
    val rle = bmp.clone(); rle(30) = 1 // compressed
    assert(MediaKernels.decodeBmp(rle).isEmpty)
  }

  test("WAV codec: PCM16 round-trip, chunk skipping + odd-size padding, 8-bit") {
    import Multimodal.{DecodedAudio, MediaKernels}
    val smp = Array.tabulate[Short](10)(i => ((i - 5) * 1000).toShort)
    val bytes = MediaKernels.encodeWav(DecodedAudio(8000, 1, 16, smp))
    val rt = MediaKernels.decodeWav(bytes).get
    assert(rt.sampleRate == 8000 && rt.numChannels == 1 && rt.bitsPerSample == 16)
    assert(rt.samples.toSeq == smp.toSeq)
    // splice an odd-size LIST chunk before fmt/data: the walker must skip
    // it including the RIFF word-alignment pad byte
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val extra = java.nio.ByteBuffer.allocate(8 + 3 + 1)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("LIST".getBytes(ascii)).putInt(3).put(Array[Byte](1, 2, 3, 0)).array()
    val spliced = bytes.take(12) ++ extra ++ bytes.drop(12)
    // fix RIFF size field (bytes 4-7) for the added chunk
    java.nio.ByteBuffer.wrap(spliced).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(4, spliced.length - 8)
    val rt2 = MediaKernels.decodeWav(spliced).get
    assert(rt2.samples.toSeq == smp.toSeq)
    // 8-bit unsigned PCM decodes shifted to signed
    val pcm8 = java.nio.ByteBuffer.allocate(44 + 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("RIFF".getBytes(ascii)).putInt(36 + 4).put("WAVE".getBytes(ascii))
      .put("fmt ".getBytes(ascii)).putInt(16).putShort(1).putShort(1)
      .putInt(8000).putInt(8000).putShort(1).putShort(8)
      .put("data".getBytes(ascii)).putInt(4)
      .put(Array[Byte](0, 127.toByte, 128.toByte, 255.toByte)).array()
    assert(MediaKernels.decodeWav(pcm8).get.samples.toSeq == Seq(-128, -1, 0, 127))
    assert(MediaKernels.decodeWav("RIFX".getBytes(ascii) ++ bytes.drop(4)).isEmpty)
    assert(MediaKernels.decodeWav(bytes.take(20)).isEmpty)
  }

  test("featurize dispatches on container: PPM/WAV features come from decoded content") {
    import Multimodal.{DecodedAudio, DecodedImage, MediaKernels}
    // solid mid-gray image: channel means = 128/255, stds = 0
    val gray = Array.fill[Byte](4 * 4 * 3)(128.toByte)
    val fImg = MediaKernels.featurize(MediaKernels.encodePpm(DecodedImage(4, 4, 255, gray)))
    (0 until 3).foreach { c =>
      assert(math.abs(fImg(2 * c) - 128f / 255f) < 1e-6, s"mean ch$c = ${fImg(2 * c)}")
      assert(fImg(2 * c + 1) == 0f, s"std ch$c")
    }
    assert(fImg(6) == 1.0f && fImg(7) == 1.0f) // aspect, maxval/255
    // constant positive samples: mean = rms = peak, zero crossings = 0
    val const = Array.fill[Short](100)(16384)
    val fWav = MediaKernels.featurize(MediaKernels.encodeWav(DecodedAudio(8000, 1, 16, const)))
    assert(math.abs(fWav(0) - 0.5f) < 1e-6 && math.abs(fWav(1) - 0.5f) < 1e-6)
    assert(fWav(2) == 0f && math.abs(fWav(3) - 0.5f) < 1e-6)
    assert(fWav(5) == 1f)
    // unrecognized bytes fall back to the histogram stand-in (non-zero, deterministic)
    val fRaw = MediaKernels.featurize("not a container".getBytes("UTF-8"))
    assert(fRaw.exists(_ != 0f))
  }

  test("ImageIO codec: PNG/GIF/BMP pixel-exact round-trip, JPEG dims + tolerance, corrupt → None") {
    import Multimodal.{DecodedImage, MediaKernels}
    // non-trivial raster: every channel value distinct per pixel, odd width
    // so stride/row bugs can't cancel out
    val px = Array.tabulate[Byte](5 * 3 * 3)(i => ((i * 53 + 11) % 256).toByte)
    val img = DecodedImage(5, 3, 255, px)
    for (fmt <- Seq("png", "bmp")) {
      val rt = MediaKernels.decodeImage(MediaKernels.encodeImage(img, fmt)).get
      assert(rt.width == 5 && rt.height == 3, fmt)
      assert(rt.pixels.toSeq == px.toSeq, s"$fmt not pixel-exact")
    }
    // GIF: the JDK writer quantizes to a fixed palette (not an exact
    // per-image one), so like JPEG it is dims-exact + bounded error
    val rtGif = MediaKernels.decodeImage(MediaKernels.encodeImage(img, "gif")).get
    assert(rtGif.width == 5 && rtGif.height == 3)
    val gifMae = px.indices.map(i => math.abs((rtGif.pixels(i) & 0xFF) - (px(i) & 0xFF))).sum / px.length
    assert(gifMae <= 48, s"GIF mean abs error $gifMae")
    // JPEG: lossy — dims exact always; content error is small on smooth
    // images (DC-dominated) and bounded on high-frequency noise
    val jpgBytes = MediaKernels.encodeImage(img, "jpg")
    val jpg = MediaKernels.decodeImage(jpgBytes).get
    assert(jpg.width == 5 && jpg.height == 3)
    val mae = px.indices.map(i => math.abs((jpg.pixels(i) & 0xFF) - (px(i) & 0xFF))).sum / px.length
    assert(mae <= 64, s"JPEG mean abs error on noise $mae")
    val solid = Array.tabulate[Byte](6 * 4 * 3)(i => (i % 3 match {
      case 0 => 200; case 1 => 80; case _ => 140
    }).toByte)
    val sJpg = MediaKernels.decodeImage(
      MediaKernels.encodeImage(DecodedImage(6, 4, 255, solid), "jpg")).get
    val sMae = solid.indices.map(i => math.abs((sJpg.pixels(i) & 0xFF) - (solid(i) & 0xFF))).sum / solid.length
    assert(sMae <= 8, s"JPEG mean abs error on solid color $sMae")
    // JPEG magic (SOI marker) proves a real codec wrote it, not a stand-in
    assert((jpgBytes(0) & 0xFF) == 0xFF && (jpgBytes(1) & 0xFF) == 0xD8)
    // PNG magic likewise
    val pngBytes = MediaKernels.encodeImage(img, "png")
    assert((pngBytes(0) & 0xFF) == 0x89 && pngBytes(1) == 'P' && pngBytes(2) == 'N' && pngBytes(3) == 'G')
    // corrupt / truncated / non-image payloads → None, never throw
    assert(MediaKernels.decodeImage("not an image at all".getBytes("UTF-8")).isEmpty)
    assert(MediaKernels.decodeImage(pngBytes.take(20).toArray).isEmpty)
    assert(MediaKernels.decodeImage(null).isEmpty)
    assert(MediaKernels.decodeImage(Array.empty[Byte]).isEmpty)
    // featurize dispatches through ImageIO: solid-gray PNG gives the same
    // decoded-content features as the PPM path (mean 128/255, std 0)
    val gray = Array.fill[Byte](4 * 4 * 3)(128.toByte)
    val fPng = MediaKernels.featurize(MediaKernels.encodeImage(DecodedImage(4, 4, 255, gray), "png"))
    (0 until 3).foreach { c =>
      assert(math.abs(fPng(2 * c) - 128f / 255f) < 1e-6, s"png mean ch$c")
      assert(fPng(2 * c + 1) == 0f, s"png std ch$c")
    }
    assert(fPng(6) == 1.0f && fPng(7) == 1.0f)
  }

  test("languageId heuristic picks signature languages, und on no signal") {
    assert(TextAnalysis.languageIdKernel("the cat and the dog is here") == "en")
    assert(TextAnalysis.languageIdKernel("这是中文的测试文本") == "zh")
    assert(TextAnalysis.languageIdKernel("zzz qqq") == "und")
    assert(TextAnalysis.languageIdKernel("") == "und")
  }

  test("fingerprint: order-sensitive content identity") {
    val a = TextAnalysis.fingerprintKernel(Seq("a", "b", "c"))
    assert(a == TextAnalysis.fingerprintKernel(Seq("a", "b", "c")))
    assert(a != TextAnalysis.fingerprintKernel(Seq("c", "b", "a")))
    assert(a != TextAnalysis.fingerprintKernel(Seq("a", "b")))
  }

  test("bpe estimate and quality score shapes") {
    import spark.implicits._
    val df = Seq("hello worlds", "ab", "").toDF("text")
    val bpe = df.select(TextAnalysis.bpeTokenEstimate(col("text"))).as[Long].collect().toSeq
    assert(bpe == Seq(2L + 2L, 1L, 0L)) // ceil(5/4)+ceil(6/4)=2+2; ceil(2/4)=1
    val q = df.select(TextAnalysis.qualityScore(col("text"))).as[Double].collect()
    assert(q.forall(x => x >= 0.0 && x <= 1.0))
  }

  test("int8QuantStats: hand-computed codes, zero vector, negative halves") {
    // maxabs 1.0 -> scale 127; codes: 127, floor(-127+0.5)=-127,
    // floor(63.5+0.5)=64, floor(0.5)=0 -> sum 64, one zero
    assert(Similarity.int8QuantStats(Seq(1.0, -1.0, 0.5, 0.0)) == (1.0, 64L, 1L))
    assert(Similarity.int8QuantStats(Seq(0.0, 0.0)) == (0.0, 0L, 2L))
    assert(Similarity.int8QuantStats(Seq.empty) == (0.0, 0L, 0L))
  }

  test("connectedComponents closes a 64-vertex path graph in O(log d) rounds") {
    import spark.implicits._
    // plain Hash-Min would need ~63 rounds; pointer jumping must close it
    // within ~log2(63)+2 — maxIter=10 both proves the speedup and pins it
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Dedup.connectedComponents(chain, "a", "b", maxIter = 10)
      .as[(Long, Long)].collect().toMap
    assert(got == (1L to 64L).map(_ -> 1L).toMap)
  }

  test("connectedComponents throws (not mislabels) when maxIter is too small") {
    import spark.implicits._
    // 5-vertex path graph needs >1 round; maxIter=1 must fail loudly
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    assertThrows[IllegalStateException] {
      Dedup.connectedComponents(chain, "a", "b", maxIter = 1).collect()
    }
  }

  test("stratified sample is invariant under repartitioning (unlike df.sample)") {
    val docs = Tables.load(spark, SparkTestBase.Sf0001, "documents")
    val base = graft.rel.ExtraQueries.q83StratifiedSample(spark, SparkTestBase.Sf0001)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // same rows, different physical layout -> identical kept set
    val repart = docs.repartition(7)
    val bucket = org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.col("doc_id") * org.apache.spark.sql.functions.lit(40503L),
      org.apache.spark.sql.functions.lit(65536L))
    val thr = org.apache.spark.sql.functions.when(
        org.apache.spark.sql.functions.col("lang") === "en", 32768L)
      .when(org.apache.spark.sql.functions.col("lang") === "zh", 19661L)
      .otherwise(6554L)
    val again = repart.where(bucket < thr).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(again == base)
    assert(base.nonEmpty)
  }

  test("incrementalDedup equals the plain anti-join (bloom path is result-transparent)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // keys drawn from a small pool so the batch contains real duplicates
    // of the corpus, plus definitely-new keys
    val corpus = Seq.fill(200)(f"k${rnd.nextInt(150)}%03d").toDF("k")
    val batch = (Seq.fill(100)(f"k${rnd.nextInt(150)}%03d") ++
      Seq.fill(50)(f"new${rnd.nextInt(1000)}%04d")).zipWithIndex
      .map { case (k, i) => (i.toLong, k) }.toDF("id", "k")
    val got = Dedup.incrementalDedup(corpus, batch, "k")
      .select("id").as[Long].collect().toSet
    val expected = batch.join(corpus.distinct(), Seq("k"), "left_anti")
      .select("id").as[Long].collect().toSet
    assert(got == expected)
    assert(expected.nonEmpty && expected.size < 150) // dups existed AND survived rows exist
  }

  test("connectedComponents: chain transitivity beyond one hop") {
    import spark.implicits._
    // 1-2, 2-3, 3-4 is a 3-hop chain (diameter 3 > one propagation round);
    // 10-11 a separate pair; 20-21 + 21-22 a vee. Min-id labels expected.
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (11L, 10L), (20L, 21L), (22L, 21L))
      .toDF("a", "b")
    val got = Dedup.connectedComponents(pairs, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponents matches brute-force union-find on a seeded random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val n = 60
    val edges = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    // driver-side union-find oracle
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(v => v -> {
        // min vertex id in v's component, among vertices present in edges
        val root = find(v.toInt)
        edges.flatMap(e => Seq(e._1, e._2)).distinct
          .filter(u => find(u.toInt) == root).min
      }).toMap
    val got = Dedup.connectedComponents(edges.toDF("x", "y"), "x", "y")
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("annTopK zero-norm guard: a zero vector scores cos 0.0 everywhere " +
       "and never outranks a genuine neighbor (review finding, round 9)") {
    import spark.implicits._
    // query 0 is parallel to 1, orthogonal to 2; vector 3 is all zeros
    val embs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(2.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = graft.ops.Similarity
      .annTopK(embs, "vec_id", "embedding", Seq(0L), k = 3,
        bucketLength = 4.0, numHashTables = 8)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    // the zero vector must not carry a phantom 0.5 similarity
    got.get(3L).foreach(cos => assert(cos == 0.0, s"zero vector scored $cos"))
    assert(got(1L) == 1.0, s"parallel neighbor must score 1.0: $got")
    // and the zero vector can never rank above the genuine parallel match
    val ranked = graft.ops.Similarity
      .annTopK(embs, "vec_id", "embedding", Seq(0L), k = 1,
        bucketLength = 4.0, numHashTables = 8)
      .collect().map(_.getLong(1)).toSeq
    assert(ranked == Seq(1L), s"top-1 must be the parallel vector: $ranked")
  }
}
