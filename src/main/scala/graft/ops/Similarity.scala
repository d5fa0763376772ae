package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.linalg.{Vectors, VectorUDT}

/** Vector similarity search over an embedding column (SURVEY B23).
  * No counterpart in the reference; required by the driver contract's
  * LLM-data-pipeline surface.
  *
  * Scale design: the brute-force form broadcasts the (small) query set so
  * the candidate scan is a map-side pipeline — no shuffle until the final
  * per-query top-k, which is a TakeOrdered-shaped window over k·|Q| rows.
  * The LSH form buckets candidates so the pair space is pruned before any
  * distance is computed; at 100 TB only the bucketed path is viable.
  */
object Similarity {

  /** Sequential left-fold dot product — the exact evaluation order of
    * DuckDB's list_cosine_similarity, which makes cosine queries
    * oracle-checkable bit-for-bit before rounding. Backed by the native
    * codegen [[graft.exprs.DotProductExpr]] (reads doubles straight from
    * ArrayData inside whole-stage codegen); a zip_with/aggregate HOF
    * chain evaluates its lambdas interpreted per element (~100× slower
    * on million-pair scans), and a Scala UDF pays a boxed Seq[Double]
    * conversion per call. */
  def dot(a: Column, b: Column): Column =
    graft.exprs.GraftFunctions.call("graft_dot", a, b)

  /** Cosine of two double-array columns (per-pair self-dots; for bulk
    * scans precompute the norms once per vector — see [[cosineTopK]]). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Brute-force cosine top-k: for each query vector (id in `queryIds`),
    * the k nearest candidates by cosine. Norms are computed once per
    * vector, not per pair; ranking uses the 4-decimal stable-rounded
    * score with candidate-id tie-break so the order is reproducible
    * across engines and partitionings. */
  /** The ONE (qid, cand, cos) → (qid, cand, cos, rn ≤ k) ranking tail
    * shared by every ANN path: the custom [[graft.plans.TopKPerKey]]
    * operator heap-cuts the score stream to k per query FIRST (partial
    * heaps bound what reaches the exchange; nothing sorts the full
    * stream), then the rank window — same total order — numbers only the
    * k·|Q| survivors. Output is identical to ranking the full stream
    * (same deterministic order both stages); the full-stream sort cost is
    * what's gone. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val cut = graft.plans.TopK.perKey(scored, Seq("qid"),
      Seq(col("cos").desc, col("cand")), k)
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cand"))
    cut.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .select("qid", "cand", "cos", "rn")
  }

  def cosineTopK(emb: DataFrame, idCol: String, vecCol: String,
                 queryIds: Seq[Long], k: Int): DataFrame = {
    graft.exprs.GraftFunctions.register(emb.sparkSession)
    val asDouble = emb.select(col(idCol).as("vid"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val queries = asDouble.where(col("vid").isin(queryIds: _*))
      .select(col("vid").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    // zero-norm guard: 0/0 = NaN sorts ABOVE every real double in a
    // descending Spark sort, so an all-zeros vector would top every list
    val denom = col("qnrm") * col("nrm")
    val scored = asDouble.join(broadcast(queries), col("vid") =!= col("qid"))
      .select(col("qid"), col("vid").as("cand"),
        graft.Stable.r4(when(denom === 0.0, 0.0)
          .otherwise(dot(col("qv"), col("v")) / denom)).as("cos"))
    rankTopK(scored, k)
  }

  /** Splitmix64-hashed tile membership — balanced even for ids with
    * fixed residues (raw id mod nTiles would put all multiples of k in
    * one tile); a pure function of the id, so any tiled scan's emitted
    * set is independent of nTiles. */
  private[ops] def tileOf(id: Long, nTiles: Int): Long = {
    var v = id + 0x9E3779B97F4A7C15L
    v = (v ^ (v >>> 30)) * 0xBF58476D1CE4E5B9L
    v = (v ^ (v >>> 27)) * 0x94D049BB133111EBL
    java.lang.Math.floorMod(v ^ (v >>> 31), nTiles.toLong)
  }

  /** Broadcast-tile scan scaffold shared by [[cosinePairs]] and
    * [[knnGraph]]: bounded-size tiles of the vector set broadcast one at
    * a time, the streamed side runs `kernel` against each tile, and each
    * tile's (bounded, by kernel contract) output is checkpointed eagerly
    * so the broadcast releases before the next tile is collected — in
    * the single-tile case too, or a long-lived driver would keep one
    * live broadcast per invocation (the BPE-cache leak class). */
  private def tiledScan[T: scala.reflect.ClassTag, O: org.apache.spark.sql.Encoder](
      vecs: org.apache.spark.sql.Dataset[T], total: Long, maxBroadcastRows: Long,
      idOf: T => Long,
      kernel: (T, Array[T]) => Iterator[O]): org.apache.spark.sql.Dataset[O] = {
    val spark = vecs.sparkSession
    val nTiles = math.max(1L, (total + maxBroadcastRows - 1) / maxBroadcastRows).toInt
    (0 until nTiles).map { t =>
      val tile = spark.sparkContext.broadcast(
        vecs.filter((r: T) => tileOf(idOf(r), nTiles) == t.toLong).collect())
      val out = vecs.flatMap((r: T) => kernel(r, tile.value))
      val cp = out.localCheckpoint(true)
      tile.destroy()
      cp
    }.reduce(_ union _)
  }

  /** All pairs with cosine >= tau (embedding-flavored near-dup), as a
    * broadcast-tile matrix scan: one side of the pair space is broadcast
    * as primitive double arrays, the other side streams through a typed
    * flatMap whose inner loop is raw double arithmetic — no boxed
    * Seq[Double] UDF calls, no per-pair array copies (a row-join form ran
    * ~50× slower on the same data). At 100 TB the broadcast side becomes
    * a sequence of tiles; the streamed side and the kernel are unchanged.
    * The dot is the same ascending left fold, so results stay
    * oracle-comparable to DuckDB's per-pair list_cosine_similarity. */
  def cosinePairs(emb: DataFrame, idCol: String, vecCol: String,
                  tau: Double, maxBroadcastRows: Long = 1000000L): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val vecs = emb.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
      .map { case (id, v) =>
        var s = 0.0
        var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        (id, v, math.sqrt(s))
      }
      .persist()
    try {
      val total = vecs.count()
      val pairs = tiledScan[(Long, Array[Double], Double), (Long, Long, Double)](
        vecs, total, maxBroadcastRows, _._1,
        { case ((v1, a, na), tile) =>
          tile.iterator
            .filter(_._1 > v1)
            .map { case (v2, b, nb) =>
              var s = 0.0
              var i = 0
              val n = math.min(a.length, b.length)
              // zero-norm guard: 0/0 would be NaN, which Spark sorts above
              // every real double
              val cos = if (na == 0.0 || nb == 0.0) 0.0 else {
                while (i < n) { s += a(i) * b(i); i += 1 }
                s / (na * nb)
              }
              (v1, v2, cos)
            }
            // filter on the TRUE cosine (identical arithmetic both engines);
            // a rounded-value filter would admit boundary pairs
            .filter(_._3 >= tau)
            .map { case (v1, v2, cos) =>
              (v1, v2, math.floor(cos * 10000.0 + 0.5) / 10000.0)
            }
        })
      pairs.toDF("v1", "v2", "cos")
    } finally {
      // safe to schedule: the tiled scan materialized everything eagerly,
      // and the data is recomputable from lineage regardless
      vecs.unpersist()
    }
  }

  /** ANN via random-hyperplane LSH (the scale path): normalize vectors so
    * euclidean distance is monotone in cosine (d² = 2·(1−cos)), bucket
    * with BucketedRandomProjectionLSH, and take per-query top-k among
    * bucket-mates only. Recall vs [[cosineTopK]] is asserted in the spec.
    *
    * `minCos` prunes candidate SCORING (not bucketing): on unit vectors
    * d = √(2·(1−cos)), so the join threshold √(2·(1−minCos)) discards any
    * bucket-collision pair below the floor before it reaches the top-k
    * window. The DEFAULT −1.0 admits every pair (the historical contract:
    * a true top-k that contains negative-cosine neighbors still
    * surfaces); callers whose data is known non-negative-similar opt into
    * 0.0 (d = √2), halving the scored pair space for isotropic data. */
  def annTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryIds: Seq[Long], k: Int,
              bucketLength: Double = 1.0, numHashTables: Int = 4,
              minCos: Double = -1.0): DataFrame = {
    val toVec = udf((a: Seq[Double]) => {
      val n = math.sqrt(a.map(x => x * x).sum)
      Vectors.dense(a.map(x => if (n == 0) 0.0 else x / n).toArray)
    })
    // zero-norm guard: a zero vector normalizes to the ORIGIN, whose LSH
    // distance to any unit vector is 1 — the 1 - d²/2 map would hand it a
    // phantom cos 0.5 against everything (1.0 against another zero
    // vector). Every other path forces zero-norm cosine to 0.0; mark the
    // rows so the score select can do the same.
    val isZero = udf((a: Seq[Double]) => a == null || a.forall(_ == 0.0))
    val normed = emb.select(col(idCol).as("vid"),
      toVec(col(vecCol).cast("array<double>")).as("v"),
      isZero(col(vecCol).cast("array<double>")).as("z"))
    val lsh = new BucketedRandomProjectionLSH().setInputCol("v").setOutputCol("h")
      .setBucketLength(bucketLength).setNumHashTables(numHashTables).setSeed(42L)
    val model = lsh.fit(normed)
    val queries = normed.where(col("vid").isin(queryIds: _*))
    // approxSimilarityJoin filters dist < threshold STRICTLY; nudge up one
    // ulp-scale step so cos == minCos pairs (e.g. exactly orthogonal
    // one-hot vectors at minCos = 0) stay inside the documented inclusive
    // floor
    val distThreshold = math.nextUp(math.sqrt(2.0 * (1.0 - minCos)))
    val joined = model.approxSimilarityJoin(queries, normed, distThreshold, "dist")
      .where(col("datasetA.vid") =!= col("datasetB.vid"))
      .select(col("datasetA.vid").as("qid"), col("datasetB.vid").as("cand"),
        graft.Stable.r4(
          when(col("datasetA.z") || col("datasetB.z"), 0.0)
            .otherwise(lit(1.0) - col("dist") * col("dist") / 2.0)).as("cos"))
    rankTopK(joined, k)
  }

  /** Fitted coarse quantizers, keyed by (corpusKey, fingerprint, nCells):
    * at serving scale the quantizer is FIT ONCE on a bounded sample and
    * reused for every query batch — refitting k-means per query invocation
    * (8 iterations × a full corpus scan) was the #2 bench cost in round 3.
    * The content fingerprint (row count + xxhash64 digest of the raw
    * (id, vec) rows) is folded into every key, so a REGENERATED corpus
    * under a reused caller key — including an in-place rewrite at
    * unchanged cardinality — refits instead of silently serving stale
    * centroids; [[clearCaches]] remains the blunt full-wipe hook.
    * Centroids are tiny (nCells × dim doubles), so an unbounded
    * map is fine for any realistic number of distinct corpora per JVM. */
  private val quantizerCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()

  /** Drop every fitted quantizer/PQ model. With content-fingerprint keys
    * staleness self-invalidates; this remains the blunt hook for
    * reclaiming memory or forcing refits wholesale. */
  def clearCaches(): Unit = { quantizerCache.clear(); pqCache.clear() }

  /** Fit the IVF coarse quantizer on a bounded deterministic sample.
    * `sampleCap` bounds the rows seen by k-means — at 100 TB the quantizer
    * quality saturates long before the corpus size, so fitting on ~100k
    * sampled rows is the standard IVF recipe (the cell boundaries only
    * gate candidate recall; they are not a clustering deliverable).
    * Sampling is seed-fixed and the count() that sizes the fraction is a
    * cheap parquet-metadata-shaped aggregate, paid once per (corpus,
    * nCells) thanks to [[quantizerCache]]. */
  private def fitQuantizer(data: DataFrame, nCells: Int,
                           sampleCap: Long, n: Long): Array[Array[Double]] = {
    val sample =
      if (n <= sampleCap) data
      else data.sample(withReplacement = false, sampleCap.toDouble / n, seed = 42L)
    val toVec = udf((a: Seq[Double]) => Vectors.dense(a.toArray))
    val fitInput = sample.withColumn("v", toVec(col("arr")))
    // few iterations suffice (kmeans|| init stays: random init measurably
    // drops recall on small corpora)
    val km = new KMeans().setK(nCells).setSeed(42L).setFeaturesCol("v")
      .setPredictionCol("cell").setMaxIter(8)
    km.fit(fitInput).clusterCenters.map(_.toArray)
  }

  /** Fingerprint a raw (id, vec) frame for the fitted-model caches:
    * (count, content digest) via [[ModelStore.fingerprint]] when a
    * corpusKey opted into caching; (count, "") for uncached one-shot
    * calls, which still need the count as the sampling denominator but
    * should not pay the content read. One aggregate job either way. */
  private def fitFingerprint(data: DataFrame,
                             corpusKey: Option[String]): (Long, String) =
    if (corpusKey.isDefined)
      ModelStore.fingerprint(data, data.columns.toSeq.map(col): _*)
    else (data.count(), "")

  /** Get-or-fit coarse centroids for a (…, arr) frame. The full fit
    * config is part of the cache key: a call with a different column pair
    * or sample cap must not silently reuse centroids fit under other
    * parameters. Get-then-putIfAbsent, NOT computeIfAbsent: the fit is a
    * distributed Spark job and must not run while holding a CHM bin lock
    * (worst case here is a rare duplicate fit, not a stall).
    *
    * `fp` = the corpus fingerprint supplied by the caller
    * ([[fitFingerprint]]): the row count is the sampling denominator,
    * and (count, content digest) together are the cache key — a corpus
    * rewritten in place, even at unchanged cardinality, re-keys and
    * refits instead of silently serving stale centroids. Callers
    * fingerprint the RAW id/vec frame, NOT a derived (normalized /
    * residual) frame — a warm cache hit pays one aggregate scan of the
    * raw columns, never a decode/normalization pass. */
  private def coarseCentersFor(data: DataFrame, nCells: Int,
                               corpusKey: Option[String], keySuffix: String,
                               sampleCap: Long, fp: (Long, String)): Array[Array[Double]] = {
    val n = fp._1
    corpusKey match {
      case Some(key) =>
        val fullKey = s"$key|$keySuffix|$nCells|$sampleCap|n=$n|h=${fp._2}"
        val cached = quantizerCache.get(fullKey)
        if (cached != null) cached
        else {
          // L2: a fit published by an earlier JVM (ModelStore round-trips
          // raw double bits, so disk-served centers are bit-identical)
          val fitted = ModelStore.loadCenters(fullKey).getOrElse {
            val f = fitQuantizer(data, nCells, sampleCap, n)
            ModelStore.saveCenters(fullKey, f)
            f
          }
          val prev = quantizerCache.putIfAbsent(fullKey, fitted)
          if (prev != null) prev else fitted
        }
      case None => fitQuantizer(data, nCells, sampleCap, n)
    }
  }

  /** Product-quantization codebooks: `m` subspaces × `ks` centroids ×
    * (dim/m) doubles. Small by construction (m·ks·dsub doubles). */
  final case class PqModel(m: Int, ks: Int, dsub: Int,
                           codebooks: Array[Array[Array[Double]]])

  private val pqCache =
    new java.util.concurrent.ConcurrentHashMap[String, PqModel]()

  /** Fit PQ codebooks with per-subspace Lloyd iterations on a BOUNDED
    * deterministic sample (the standard PQ recipe: codebook quality
    * saturates at a few thousand training points per centroid, so the
    * sample cap — not the corpus — bounds the fit at any scale). The fit
    * runs driver-side over ≤ sampleCap vectors: for m=16, ks=16, that is
    * 16 independent 16-centroid clusterings of ≤ sampleCap × dsub doubles
    * — milliseconds, and NOT a per-row corpus operation (encoding is the
    * distributed part). Seeded and deterministic. */
  private def fitPq(samples: Array[Array[Double]], dim: Int, m: Int, ks: Int,
                    seed: Long, iters: Int = 12): PqModel = {
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    require(ks <= 256, s"ks=$ks centroids cannot be coded in one byte")
    val dsub = dim / m
    val rnd = new scala.util.Random(seed)
    val codebooks = Array.tabulate(m) { sub =>
      val off = sub * dsub
      // init: up to ks distinct seeded sample SUBVECTORS — distinct by
      // content, not by index: duplicate sample vectors would otherwise
      // seed coincident centroids that Lloyd can never separate (empty
      // cells keep their centroid), quietly degrading the codebook. A
      // corpus with < ks distinct subvectors gets fewer centroids — a
      // smaller codebook, never out-of-bounds.
      val seen = scala.collection.mutable.HashSet.empty[Seq[Double]]
      val cents = rnd.shuffle(samples.indices.toList).iterator
        .map(i => java.util.Arrays.copyOfRange(samples(i), off, off + dsub))
        .filter(c => seen.add(c.toSeq))
        .take(ks).toArray
      val nc = cents.length
      var it = 0
      while (it < iters) {
        val sums = Array.fill(nc)(new Array[Double](dsub))
        val counts = new Array[Int](nc)
        samples.foreach { v =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < nc) {
            var d = 0.0; var j = 0
            while (j < dsub) { val t = v(off + j) - cents(c)(j); d += t * t; j += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          counts(best) += 1
          var j = 0
          while (j < dsub) { sums(best)(j) += v(off + j); j += 1 }
        }
        var c = 0
        while (c < nc) {
          if (counts(c) > 0) {
            var j = 0
            while (j < dsub) { cents(c)(j) = sums(c)(j) / counts(c); j += 1 }
          } // empty cell: keep previous centroid (deterministic)
          c += 1
        }
        it += 1
      }
      cents
    }
    PqModel(m, ks, dsub, codebooks)
  }

  /** ANN via product quantization with asymmetric-distance scoring — the
    * memory-compression half of a 100-TB IVF-PQ index ([[ivfTopK]] is the
    * cell-pruning half). Vectors are unit-normalized, then encoded to `m`
    * one-byte centroid ids (for dim 64, m 16: 16 bytes/vector instead of
    * 512 — the corpus of codes fits where the raw vectors cannot). A query
    * precomputes an m×ks lookup table of partial inner products, so
    * scoring a candidate is m table adds over the CODES — no vector is
    * touched until the exact re-rank of the top `rerank`·k approximate
    * candidates (two-stage retrieve-then-rerank, recall asserted in the
    * spec). Codebooks are sample-fit and cached under `corpusKey` like the
    * IVF quantizer. */
  /** The ONE unit-normalize kernel (zero vector stays zero) — shared by
    * the distributed [[normalized]] pass and the driver-side
    * [[queryVectors]] fetch so the two sides can never scale apart. */
  private[ops] def normalizeOne(v: Array[Double]): Array[Double] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val n = math.sqrt(s)
    val out = new Array[Double](v.length)
    if (n > 0) { i = 0; while (i < v.length) { out(i) = v(i) / n; i += 1 } }
    out
  }

  /** The ONE centroid squared-distance kernel — every cell assignment and
    * probe ranking (ivfTopK, ivfPqTopK, nearestCenter) goes through this,
    * so a future change (early-exit bound, tie-break) cannot desync cell
    * geometry between the IVF and IVF-PQ paths. */
  private[ops] def sqDist(a: Array[Double], c: Array[Double]): Double = {
    var d = 0.0; var j = 0
    while (j < c.length) { val t = a(j) - c(j); d += t * t; j += 1 }
    d
  }

  /** Unit-normalize a (vid, arr) frame into a typed Dataset. */
  private def normalized(data: DataFrame): Dataset[(Long, Array[Double])] = {
    val spark = data.sparkSession
    import spark.implicits._
    data.as[(Long, Array[Double])].map { case (id, v) => (id, normalizeOne(v)) }
  }

  /** Get-or-fit the PQ model for a normalized corpus. Fit-path only
    * actions (cache hits skip everything). CALLERS that may also fit a
    * coarse quantizer should persist `normed` around this call so both
    * fits share one normalization pass. None ⇔ empty corpus. */
  private def pqModelFor(normed: Dataset[(Long, Array[Double])],
                         m: Int, ks: Int, corpusKey: Option[String],
                         keySuffix: String, sampleCap: Int,
                         fp: (Long, String)): Option[PqModel] = {
    val spark = normed.sparkSession
    import spark.implicits._
    val total = fp._1
    // `fp` = caller-supplied corpus fingerprint: (count, content digest)
    // = cache key, count = sample denominator (see coarseCentersFor).
    // On a cache hit `normed` is never touched — no normalization/
    // residual pass runs.
    def sampleVectors(): Array[Array[Double]] = {
      val frac = math.min(1.0, sampleCap.toDouble / math.max(total, 1L))
      val s = if (frac >= 1.0) normed else normed.sample(withReplacement = false, frac, 42L)
      s.map(_._2).collect()
    }
    def fitFromSample(): Option[PqModel] = {
      val samples = sampleVectors()
      if (samples.isEmpty) None
      else Some(fitPq(samples, samples(0).length, m, ks, seed = 42L))
    }
    corpusKey match {
      case Some(key) =>
        val fullKey = s"$key|$keySuffix|$m|$ks|$sampleCap|n=$total|h=${fp._2}"
        val cached = pqCache.get(fullKey)
        if (cached != null) Some(cached)
        else ModelStore.loadPq(fullKey).orElse(fitFromSample().map { f =>
          // publish the fresh fit for later JVMs (bit-exact round-trip)
          ModelStore.savePq(fullKey, f); f
        }).map { fitted =>
          val prev = pqCache.putIfAbsent(fullKey, fitted)
          if (prev != null) prev else fitted
        }
      case None => fitFromSample()
    }
  }

  /** Argmin centroid for a full vector, via the shared [[sqDist]]. */
  private[ops] def nearestCenter(centers: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0; var bestD = Double.MaxValue; var ci = 0
    while (ci < centers.length) {
      val d = sqDist(v, centers(ci))
      if (d < bestD) { bestD = d; best = ci }
      ci += 1
    }
    best
  }

  /** The ONE ADC scoring kernel (m table adds over the byte codes) —
    * shared by [[pqTopK]] and [[ivfPqTopK]] like [[encodeOne]]. */
  private[ops] def adcScore(lut: Array[Array[Double]], code: Array[Byte]): Double = {
    var s = 0.0; var sub = 0
    while (sub < code.length) { s += lut(sub)(code(sub) & 0xFF); sub += 1 }
    s
  }

  /** Approximate-stage shortlist: top rerank·k per query by ADC score,
    * deterministic cand tie-break — the shared stage-1 cut both PQ paths
    * feed into [[exactRerank]]. Runs on the custom
    * [[graft.plans.TopKPerKey]] operator (partial bounded heaps →
    * clustered exchange → final heaps) instead of a rank window: only
    * ≤ partitions×|Q|×rerank·k candidate rows ever reach the exchange,
    * and nothing is sorted. Same total order (approx desc, cand asc), so
    * the shortlist SET — and the declared q75/q76 results — is
    * unchanged (fixture-verified). */
  private def adcShortlist(approx: DataFrame, k: Int, rerank: Int): DataFrame =
    graft.plans.TopK.perKey(approx, Seq("qid"),
      Seq(col("approx").desc, col("cand")), k * rerank)
      .select("qid", "cand")

  /** PQ-encode one vector: per-subspace argmin over the codebook —
    * the ONE encode kernel shared by [[pqTopK]] and [[ivfPqTopK]] so the
    * two paths can never silently diverge. */
  private[ops] def encodeOne(pq: PqModel, v: Array[Double]): Array[Byte] = {
    val code = new Array[Byte](pq.m)
    var sub = 0
    while (sub < pq.m) {
      val off = sub * pq.dsub
      val cents = pq.codebooks(sub)
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < cents.length) {
        var d = 0.0; var j = 0
        while (j < pq.dsub) { val t = v(off + j) - cents(c)(j); d += t * t; j += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      code(sub) = best.toByte
      sub += 1
    }
    code
  }

  /** Distributed PQ encode: one pass, m argmins per row, m-byte codes. */
  private def encodeCodes(normed: Dataset[(Long, Array[Double])],
                          modelB: org.apache.spark.broadcast.Broadcast[PqModel])
      : Dataset[(Long, Array[Byte])] = {
    val spark = normed.sparkSession
    import spark.implicits._
    normed.map { case (id, v) => (id, encodeOne(modelB.value, v)) }
  }

  /** Query vectors fetched with a pushdown-friendly Column predicate (an
    * opaque typed filter would force a full-corpus deserialize to pull
    * |Q| rows) and unit-normalized driver-side — |Q| rows, trivial. */
  private def queryVectors(data: DataFrame, queryIds: Seq[Long]): Array[(Long, Array[Double])] = {
    val spark = data.sparkSession
    import spark.implicits._
    data.where(col("vid").isin(queryIds: _*))
      .as[(Long, Array[Double])].collect()
      .map { case (qid, v) => (qid, normalizeOne(v)) }
  }

  /** Per-query ADC lookup tables: lut(sub)(c) = ⟨query_sub, centroid_c⟩.
    * Sized by the ACTUAL centroid count (a tiny corpus may fit fewer than
    * ks); codes only ever reference existing centroids. */
  private def adcLuts(queryVecs: Array[(Long, Array[Double])],
                      pq: PqModel): Array[(Long, Array[Array[Double]])] =
    queryVecs.map { case (qid, qv) =>
      val lut = Array.tabulate(pq.m) { sub =>
        val cents = pq.codebooks(sub)
        val off = sub * pq.dsub
        Array.tabulate(cents.length) { c =>
          var s = 0.0; var j = 0
          while (j < pq.dsub) { s += qv(off + j) * cents(c)(j); j += 1 }
          s
        }
      }
      (qid, lut)
    }

  /** Exact cosine re-rank of a (qid, cand) shortlist — same scoring and
    * tie-break discipline as [[cosineTopK]], so results are comparable.
    * Ranking here uses the plain rank window WITHOUT the [[rankTopK]]
    * TopKPerKey pre-cut: the input is already bounded to ≤ rerank·k rows
    * per query by the shortlist stage, so a heap cut saves nothing and
    * its exchange + final stage would only add two AQE jobs to every PQ
    * query (the cut stays where the scored stream is corpus-sized —
    * [[cosineTopK]]/[[annTopK]]/[[ivfTopK]]). */
  private def exactRerank(shortlist: DataFrame, data: DataFrame,
                          queryIds: Seq[Long], k: Int): DataFrame = {
    val asDouble = data.withColumn("nrm", sqrt(dot(col("arr"), col("arr"))))
    val queries = asDouble.where(col("vid").isin(queryIds: _*))
      .select(col("vid").as("qid"), col("arr").as("qarr"), col("nrm").as("qnrm"))
    val denom = col("qnrm") * col("nrm")
    val scored = shortlist
      .join(asDouble.withColumnRenamed("vid", "cand"), Seq("cand"))
      .join(broadcast(queries), Seq("qid"))
      .select(col("qid"), col("cand"),
        graft.Stable.r4(when(denom === 0.0, 0.0)
          .otherwise(dot(col("qarr"), col("arr")) / denom)).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cand"))
    scored.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .select("qid", "cand", "cos", "rn")
  }

  private def emptyTopK(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.emptyDataFrame
      .select(lit(0L).as("qid"), lit(0L).as("cand"),
        lit(0.0).as("cos"), lit(0).as("rn"))
      .where(lit(false))

  def pqTopK(emb: DataFrame, idCol: String, vecCol: String,
             queryIds: Seq[Long], k: Int,
             m: Int = 16, ks: Int = 16, rerank: Int = 8,
             corpusKey: Option[String] = None,
             sampleCap: Int = 20000): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    graft.exprs.GraftFunctions.register(spark)
    val data = emb.select(col(idCol).cast("long").as("vid"),
      col(vecCol).cast("array<double>").as("arr"))
    val normed = normalized(data)
    // fingerprint on the RAW frame (one aggregate job) — a warm cache
    // hit costs that one scan, never a normalization pass; the miss
    // path reads `normed` exactly once (the sample collect), so no
    // persist is needed either
    val fp = fitFingerprint(data, corpusKey)
    val modelOpt = pqModelFor(normed, m, ks, corpusKey,
      s"$idCol|$vecCol", sampleCap, fp)
    if (modelOpt.isEmpty) return emptyTopK(spark) // empty corpus, not a crash
    val model = modelOpt.get
    val modelB = spark.sparkContext.broadcast(model)
    val codes = encodeCodes(normed, modelB)
    val lutsB = spark.sparkContext.broadcast(adcLuts(queryVectors(data, queryIds), model))
    // Partition-local top-(rerank·k) via bounded heaps. Spark's own
    // InferWindowGroupLimit already caps what the downstream rank window
    // SHUFFLES, but its partial mode must first SORT each partition's
    // full |corpus|×|Q| ADC cross product (O(n log n) rows materialized
    // per partition) — the one flat-PQ cost that grows linearly with the
    // corpus. The heaps replace that sort with an O(n log m) streaming
    // pass (m = rerank·k) that never materializes the cross product; the
    // union of per-partition top-m under the SAME total order the window
    // uses (approx desc, cand asc) provably contains the global top-m, so
    // the final shortlist — and the declared result — is unchanged
    // (verified bit-identical).
    val capacity = math.max(1, k * rerank)
    val approx = codes.mapPartitions { it =>
      val luts = lutsB.value
      // heap head = the WORST retained entry under (approx desc, cand asc)
      val worstFirst = new Ordering[(Long, Double)] {
        def compare(x: (Long, Double), y: (Long, Double)): Int = {
          val c = java.lang.Double.compare(y._2, x._2) // lower score = worse
          if (c != 0) c else java.lang.Long.compare(x._1, y._1) // higher cand = worse
        }
      }
      val heaps = luts.map { case (qid, _) =>
        qid -> new scala.collection.mutable.PriorityQueue[(Long, Double)]()(worstFirst)
      }
      it.foreach { case (vid, code) =>
        var i = 0
        while (i < luts.length) {
          val (qid, lut) = luts(i)
          if (qid != vid) {
            val s = adcScore(lut, code)
            val h = heaps(i)._2
            if (h.size < capacity) h.enqueue((vid, s))
            else if (worstFirst.compare((vid, s), h.head) < 0) {
              h.dequeue(); h.enqueue((vid, s))
            }
          }
          i += 1
        }
      }
      heaps.iterator.flatMap { case (qid, h) => h.iterator.map { case (c, s) => (qid, c, s) } }
    }.toDF("qid", "cand", "approx")
    // stage 1: approximate top rerank·k by ADC; stage 2: exact re-rank
    exactRerank(adcShortlist(approx, k, rerank), data, queryIds, k)
  }

  /** Subtract a centroid from a vector — the residual the IVF-PQ
    * codebooks are trained on and encode. */
  private[ops] def residual(v: Array[Double], c: Array[Double]): Array[Double] = {
    val out = new Array[Double](v.length)
    var i = 0
    while (i < v.length) { out(i) = v(i) - c(i); i += 1 }
    out
  }

  /** The composed 100-TB serving design: IVF cells prune WHAT is scanned
    * (~nProbe/nCells of the corpus per query), PQ codes compress what the
    * scan touches (m bytes/vector + an m-table-add score), and the exact
    * re-rank restores precision on the shortlist. Both models are
    * sample-fit and cached per corpus; candidate generation joins the
    * (qid, cell) probe pairs against the coded corpus on cell — a pure
    * shuffle join with no corpus broadcast. Recall vs [[cosineTopK]]
    * asserted ≥0.85 in the spec.
    *
    * PQ codes are fit on and encode RESIDUALS x − c(cell(x)) — the
    * standard FAISS IVFPQ formulation — not the raw vectors. Residuals
    * within a cell are centered near the origin, so the m·ks codebook
    * budget quantizes the small within-cell displacement instead of the
    * whole sphere: materially lower quantization error at identical
    * 16-byte codes. The ADC identity splits per probed cell:
    * ⟨q, x̂⟩ = ⟨q, c_cell⟩ + Σ_sub lut(sub)(code_sub), so scoring adds one
    * per-(query, cell) scalar offset — precomputed on the driver and
    * carried on the broadcast probe pairs — to the same m table adds.
    *
    * Defaults nProbe=10 / rerank=16 from the round-8 recall sweep vs
    * brute-force cosine (top-5, 20 queries): sf0.1 recall 0.84
    * (8/16), 0.87 (8/32), 0.92 (10/16), 0.95 (12/16); sf0.001 0.86 /
    * 0.95 / 1.00 at 8/10/12 probes with rerank=16. The code-quality A/B
    * (admission removed: nProbe=nCells vs flat plain-code PQ) shows the
    * residual win directly — sf0.001 rerank=8: residual 0.93 vs plain
    * 0.86; rerank=16: 1.00 vs 0.94; sf0.1 rerank=16: 0.95 vs 0.92. The
    * trade-off is linear: candidates scale with nProbe/nCells, and only
    * the rerank·k shortlist ever touches raw vectors. At production
    * scale nCells grows as √n (4k–64k cells), so the same nProbe/nCells
    * admission ratio scans a far smaller corpus fraction than the
    * test-scale 10/16. */
  def ivfPqTopK(emb: DataFrame, idCol: String, vecCol: String,
                queryIds: Seq[Long], k: Int,
                nCells: Int = 16, nProbe: Int = 10,
                m: Int = 16, ks: Int = 16, rerank: Int = 16,
                corpusKey: Option[String] = None,
                sampleCap: Int = 20000): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    graft.exprs.GraftFunctions.register(spark)
    val data = emb.select(col(idCol).cast("long").as("vid"),
      col(vecCol).cast("array<double>").as("arr"))
    val normed = normalized(data)
    // ONE fingerprint aggregate on the RAW frame serves both caches (the
    // normalization and residual maps are 1:1, so all three frames share
    // a fingerprint). A warm double-hit therefore costs one raw-column
    // scan — NOT a normalization pass plus a residual pass, which at
    // 100 TB would be two full corpus decodes per query batch.
    val fp = fitFingerprint(data, corpusKey)
    // BOTH fits (coarse quantizer, then PQ codebooks on its residuals)
    // read the normalized corpus on a MISS: persist across them so the
    // fit path pays one normalization pass; cache hits never materialize
    // it (persist/unpersist stay lazy no-ops)
    val cached = normed.persist()
    val (modelOpt, centers) =
      try {
        // coarse quantizer first over the NORMALIZED vectors (cells
        // partition the unit sphere, matching the inner-product geometry)
        val cs = coarseCentersFor(cached.toDF("vid", "arr"), nCells, corpusKey,
          s"$idCol|$vecCol|normed", sampleCap.toLong, fp)
        val mo =
          if (cs.isEmpty) None
          else {
            // PQ fit on RESIDUALS x − c(cell(x)): the codebooks quantize
            // within-cell displacement, not the whole sphere (FAISS IVFPQ)
            val csB = spark.sparkContext.broadcast(cs)
            val resids = cached.map { case (id, v) =>
              (id, residual(v, csB.value(nearestCenter(csB.value, v))))
            }
            pqModelFor(resids, m, ks, corpusKey, s"$idCol|$vecCol|resid",
              sampleCap, fp)
          }
        (mo, cs)
      } finally cached.unpersist()
    if (modelOpt.isEmpty) return emptyTopK(spark)
    val model = modelOpt.get
    val centersB = spark.sparkContext.broadcast(centers)
    val modelB = spark.sparkContext.broadcast(model)
    // one distributed pass: cell assignment + residual PQ encode per row,
    // both via the shared kernels so q75/q76 can never silently diverge
    val coded = normed.map { case (id, v) =>
      val cs = centersB.value
      val cell = nearestCenter(cs, v)
      (id, cell, encodeOne(modelB.value, residual(v, cs(cell))))
    }.toDF("vid", "cell", "code")
    val qVecs = queryVectors(data, queryIds)
    val lutByQid = adcLuts(qVecs, model).toMap
    val lutB = spark.sparkContext.broadcast(lutByQid)
    // (qid, cell, offset) probe triples: each query scans only its nProbe
    // cells; offset = ⟨q, c_cell⟩ completes the residual ADC identity
    val probes = qVecs.toSeq.flatMap { case (qid, qv) =>
      centers.indices.sortBy(ci => sqDist(qv, centers(ci)))
        .take(nProbe).map { cell =>
          var dotQC = 0.0; var j = 0
          while (j < qv.length) { dotQC += qv(j) * centers(cell)(j); j += 1 }
          (qid, cell, dotQC)
        }
    }.toDF("qid", "cell", "offset")
    val scoreAdc = udf((qid: Long, code: Array[Byte]) =>
      adcScore(lutB.value(qid), code))
    val approx = coded.join(broadcast(probes), Seq("cell"))
      .where(col("vid") =!= col("qid"))
      .select(col("qid"), col("vid").as("cand"),
        (col("offset") + scoreAdc(col("qid"), col("code"))).as("approx"))
    exactRerank(adcShortlist(approx, k, rerank), data, queryIds, k)
  }

  /** IVF-style ANN: k-means partitions the corpus into `nCells` inverted
    * lists; each query probes only its `nProbe` nearest centroids, so the
    * scanned fraction is ~nProbe/nCells of the corpus — the coarse
    * quantizer half of an IVF index (no PQ compression; vectors stay
    * exact, so in-cell scoring is exact cosine). Deterministic for a
    * fixed seed. Recall vs [[cosineTopK]] asserted in the spec.
    *
    * The quantizer is fit on a deterministic sample (≤ `sampleCap` rows)
    * and cached under `corpusKey` so repeated query batches against the
    * same corpus skip the fit entirely; pass `corpusKey = None` to force
    * a fresh fit (e.g. the corpus changed under the same path). Cell
    * assignment is a map-side argmin over the broadcast centroids — no
    * MLlib transform, no per-call fit.
    */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryIds: Seq[Long], k: Int,
              nCells: Int = 16, nProbe: Int = 6,
              corpusKey: Option[String] = None,
              sampleCap: Long = 100000L): DataFrame = {
    val spark = emb.sparkSession
    graft.exprs.GraftFunctions.register(spark)
    val data = emb.select(col(idCol).as("vid"),
      col(vecCol).cast("array<double>").as("arr"))
    val centers = coarseCentersFor(data, nCells, corpusKey,
      s"$idCol|$vecCol", sampleCap, fitFingerprint(data, corpusKey))
    val centersB = spark.sparkContext.broadcast(centers)
    // corpus-side assignment: argmin over centroids via the shared
    // kernels — identical geometry to ivfPqTopK's coded pass
    val assignCell = udf((a: Seq[Double]) =>
      nearestCenter(centersB.value, a.toArray))
    val assigned = data.withColumn("cell", assignCell(col("arr")))
    // each query probes its nProbe nearest cells
    val probeCells = udf((a: Seq[Double]) => {
      val cs = centersB.value
      val arr = a.toArray
      cs.indices.sortBy(ci => sqDist(arr, cs(ci))).take(nProbe)
    })
    // norms once per vector (not per pair — see cosineTopK), zero-guarded
    val withNrm = assigned.withColumn("nrm", sqrt(dot(col("arr"), col("arr"))))
    val queries = withNrm.where(col("vid").isin(queryIds: _*))
      .select(col("vid").as("qid"), col("arr").as("qarr"), col("nrm").as("qnrm"),
        explode(probeCells(col("arr"))).as("cell"))
    val denom = col("qnrm") * col("nrm")
    val scored = queries.join(withNrm, Seq("cell"))
      .where(col("vid") =!= col("qid"))
      .select(col("qid"), col("vid").as("cand"),
        graft.Stable.r4(when(denom === 0.0, 0.0)
          .otherwise(dot(col("qarr"), col("arr")) / denom)).as("cos"))
    rankTopK(scored, k)
  }

  /** Max-abs int8 quantization stats for one vector: (maxabs, sum of the
    * int8 codes, zero-code count). code = floor(x·(127/maxabs) + 0.5) —
    * the symmetric-scale scheme vector stores use to cut embedding memory
    * 8× (a float64 corpus serves from int8 + one scale per vector). Every
    * step is a deterministic IEEE-754 double op, so an engine running the
    * identical formula (the DuckDB oracle) lands on identical codes; the
    * declared outputs are integers + one r4-rounded scale — no fp-sum-
    * order hazard. Zero vector ⇒ (0, 0, n): scale 0 instead of a 127/0
    * division. Per-row Scala kernel (not HOF lambdas): CollapseProject
    * would re-inline the maxabs aggregate into the per-element lambda
    * (SURVEY §7.3 — observed 64× re-evaluation on this shape). */
  def int8QuantStats(v: Seq[Double]): (Double, Long, Long) = {
    if (v == null || v.isEmpty) return (0.0, 0L, 0L)
    var maxabs = 0.0
    v.foreach { x => val a = math.abs(x); if (a > maxabs) maxabs = a }
    if (maxabs == 0.0) return (0.0, 0L, v.size.toLong)
    val scale = 127.0 / maxabs
    var sum = 0L; var zeros = 0L
    v.foreach { x =>
      val c = math.floor(x * scale + 0.5).toLong
      sum += c; if (c == 0L) zeros += 1
    }
    (maxabs, sum, zeros)
  }

  val int8QuantStatsUdf = udf((v: Seq[Double]) => int8QuantStats(v))

  /** SemDeDup-style embedding-cluster near-dedup (Abbas et al. 2023,
    * arXiv:2303.09540): kmeans cells bound the candidate pair space to
    * same-cell pairs (the exact all-pairs scan of [[cosinePairs]] is the
    * thing that cannot survive a 100-TB corpus), exact cosine verifies
    * every candidate on the true vectors, and a vector is dropped iff an
    * EARLIER (lower-id) same-cell vector scores >= minCos against it —
    * the deterministic keep-first rule the exact dedup queries use.
    *
    * Returns one row per input vector: (id, cell, dropped, witness,
    * wit_cos), witness = the LOWEST-id qualifying earlier neighbor (null
    * when kept), wit_cos its r4-rounded cosine.
    *
    * Scale shape: centroids broadcast (nCells x dim doubles), assignment
    * is map-side, the self-join shuffles on `cell` only — pair work is
    * sum of per-cell n_c^2, corpus never broadcast, no driver state.
    * Precision is exact by construction (witness cosines are computed on
    * the raw vectors, not sketches); recall misses only pairs whose
    * nProbe-nearest-cell sets are disjoint — the knobs are nCells (cell
    * granularity) and nProbe (probe overlap; recall 0.40 -> 0.94 going
    * from 1 to 3 at nCells=16 on the sf0.001 corpus), pinned by
    * SemDedupSpec against the brute-force q44 pair set. */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
               nCells: Int = 16, minCos: Double = 0.4, nProbe: Int = 3,
               corpusKey: Option[String] = None,
               sampleCap: Long = 100000L): DataFrame = {
    val spark = emb.sparkSession
    graft.exprs.GraftFunctions.register(spark)
    val data = emb.select(col(idCol).as("vid"),
      col(vecCol).cast("array<double>").as("arr"))
    val centers = coarseCentersFor(data, nCells, corpusKey,
      s"$idCol|$vecCol|semdedup", sampleCap, fitFingerprint(data, corpusKey))
    val centersB = spark.sparkContext.broadcast(centers)
    // multi-probe assignment: each vector lands in its nProbe nearest
    // cells, so a pair is candidate iff the two probe sets intersect —
    // closes the single-assignment recall cliff (boundary pairs split
    // across adjacent cells) for <= nProbe^2 x pair work, never a
    // corpus scan
    val probeCellsU = udf((a: Seq[Double]) => {
      val cs = centersB.value
      val arr = a.toArray
      cs.indices.sortBy(ci => sqDist(arr, cs(ci))).take(nProbe)
    })
    // norms once per vector; zero-norm guard as in cosineTopK
    val withCells = data.withColumn("cells", probeCellsU(col("arr")))
      .withColumn("nrm", sqrt(dot(col("arr"), col("arr"))))
    val exploded = withCells.select(col("vid"), col("arr"), col("nrm"),
      explode(col("cells")).as("cell"))
    val earlier = exploded.select(col("cell"), col("vid").as("wid"),
      col("arr").as("warr"), col("nrm").as("wnrm"))
    val denom = col("wnrm") * col("nrm")
    val qualifying = exploded.join(earlier, Seq("cell"))
      .where(col("wid") < col("vid"))
      .select(col("vid"), col("wid"),
        when(denom === 0.0, 0.0)
          .otherwise(dot(col("warr"), col("arr")) / denom).as("cos_raw"))
      .where(col("cos_raw") >= minCos)
    // lexicographic struct-min = lowest witness id (its cosine rides
    // along); the same groupBy dedupes pairs that met in several cells
    val drops = qualifying.groupBy("vid")
      .agg(min(struct(col("wid"), graft.Stable.r4(col("cos_raw")).as("cos"))).as("w"))
      .select(col("vid"), col("w.wid").as("witness"), col("w.cos").as("wit_cos"))
    withCells.select(col("vid"), col("cells").getItem(0).cast("long").as("cell"))
      .join(drops, Seq("vid"), "left")
      .select(col("vid").as(idCol), col("cell"),
        col("witness").isNotNull.as("dropped"), col("witness"), col("wit_cos"))
  }

  /** Exact k-nearest-neighbor GRAPH by integer squared L2 — every
    * vector's top-k neighbors over the whole corpus (declared q157).
    * The kNN graph is the backbone structure under graph-based ANN
    * indexes (NSW/HNSW construction starts from exactly this), SemDeDup-
    * style cluster auditing, and q81-style similarity clustering.
    *
    * Exactness contract (q124's recipe): vectors micro-quantize to
    * BIGINTs and every distance is an exact integer Σ(a−b)², so the
    * ranking — ties broken by neighbor id — is a total order both
    * engines replay bit-identically; no float comparison anywhere.
    *
    * Scale shape: the [[cosinePairs]] broadcast-tile scan with a
    * PER-VECTOR BOUNDED HEAP in the streamed flatMap — each streamed
    * vector emits at most k candidates per tile (k·nTiles rows total,
    * never the n² pair space), and the cross-tile merge is
    * [[graft.plans.TopK.perKey]]: partial heaps, one clustered exchange
    * of ≤ parts·keys·k rows, final heaps. The inner loop is raw
    * primitive-long arithmetic (no boxed rows, no per-pair allocation).
    * At 100 TB this is the exact baseline; q36/q55 are the pruned
    * candidate-generation paths and feed the same per-key heap tail. */
  def knnGraph(emb: DataFrame, idCol: String, vecCol: String, k: Int,
               maxBroadcastRows: Long = 1000000L): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val vecs = emb.select(col(idCol).cast("long"),
        expr(s"transform(CAST($vecCol AS ARRAY<DOUBLE>), " +
          "x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))"))
      .as[(Long, Array[Long])].persist()
    try knnGraphFromQuantized(vecs, k, maxBroadcastRows)
    finally vecs.unpersist()
  }

  /** [[knnGraph]] over an ALREADY micro-quantized (id, vec) corpus —
    * lets a caller that has the quantized frame persisted (e.g.
    * [[beamSearchAnn]]) build the graph without a second corpus scan +
    * transform + cache. Caller manages the input's persistence; the
    * tile scan materializes its output internally, so the result does
    * not depend on the input staying cached. */
  def knnGraphFromQuantized(vecs: Dataset[(Long, Array[Long])], k: Int,
                            maxBroadcastRows: Long = 1000000L): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    {
      val total = vecs.count()
      val cands = tiledScan[(Long, Array[Long]), (Long, Long, Long)](
        vecs, total, maxBroadcastRows, _._1,
        { case ((vid, a), tile) =>
          // bounded insertion lists (k is small): ascending by (d2, nbr)
          val bestD = Array.fill(k)(Long.MaxValue)
          val bestI = Array.fill(k)(Long.MaxValue)
          tile.foreach { case (nbr, b) =>
            if (nbr != vid) {
              var s = 0L
              var i = 0
              val n = math.min(a.length, b.length)
              while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
              var j = k - 1
              if (s < bestD(j) || (s == bestD(j) && nbr < bestI(j))) {
                bestD(j) = s; bestI(j) = nbr
                while (j > 0 && (bestD(j) < bestD(j - 1) ||
                       (bestD(j) == bestD(j - 1) && bestI(j) < bestI(j - 1)))) {
                  val td = bestD(j); bestD(j) = bestD(j - 1); bestD(j - 1) = td
                  val ti = bestI(j); bestI(j) = bestI(j - 1); bestI(j - 1) = ti
                  j -= 1
                }
              }
            }
          }
          (0 until k).iterator.filter(bestD(_) != Long.MaxValue)
            .map(j => (vid, bestI(j), bestD(j)))
        })
      val all = cands.toDF("vid", "nbr", "d2")
      val top = graft.plans.TopK.perKey(all, Seq("vid"),
        Seq(col("d2").asc, col("nbr").asc), k)
      val w = Window.partitionBy("vid").orderBy(col("d2"), col("nbr"))
      top.withColumn("rk", row_number().over(w).cast("long"))
        .select(col("vid"), col("rk"), col("nbr"), col("d2"))
        .orderBy("vid", "rk")
    }
  }

  /** APPROXIMATE k-nearest-neighbor graph by NN-DESCENT (Dong, Moses &
    * Li, WWW 2011) — the sub-quadratic replacement for [[knnGraph]]'s
    * exact O(n²) tile scan. Same output schema and exactness contract
    * for every emitted edge (micro-quantized BIGINT distances, (d2, nbr)
    * total order); what is approximate is only WHICH neighbors are found
    * (the recall-vs-exact spec in KnnGraphApproxSpec is the semantic
    * gate).
    *
    * Algorithm: initialize each node's neighbor list from deterministic
    * hash buckets (all pairs within a ≈`4·iterK`-node xxhash bucket —
    * the content-independent random init of the paper, spelled as one
    * bounded self-join), then iterate the NN-descent step: a neighbor
    * of a neighbor is likely a neighbor, so each round joins the
    * SYMMETRIZED adjacency with itself on the shared source node,
    * scores the fresh (never-scored) candidate pairs, and heap-cuts
    * every list back to `iterK` with [[graft.plans.TopK.perKey]].
    *
    * Every round is bounded, the property the exact scan lacks:
    * - reverse degree is CAPPED at `iterK` before the join (the paper's
    *   reverse-list sampling): kNN in-degree is the skewed quantity —
    *   a hub with 10⁴ in-edges would otherwise square into 10⁸
    *   candidate rows for one key — so adjacency degree is ≤ 2·iterK
    *   everywhere and the candidate space is ≤ 4·iterK²·n rows/round;
    * - the self-join's exchange is pinned to full shuffle width
    *   (`repartition(N, u)`): its OUTPUT explodes ≈2·iterK× over its
    *   input, exactly the shape AQE's input-byte sizing coalesces into
    *   a handful of straggler partitions (q126's measured 49.5→21.0 s
    *   fix);
    * - one `checkpoint` per round keeps the driver loop's lineage flat
    *   and the round's plan running once (the q169 ledger discipline).
    *
    * Total work O(n · iterK² · rounds) vs the exact scan's O(n²·d):
    * at 10⁹ vectors that is the difference between ~10¹³ bounded-join
    * rows and an infeasible 10¹⁸-pair scan. Fixed `rounds` (no
    * convergence test) keeps the output a pure corpus function —
    * deterministic init, integer distances, total-order cuts — so the
    * declared form (q171) carries a committed-fixture oracle like q169.
    * [[beamSearchAnn]]'s prebuilt-graph overload serves off this
    * build's persisted output (q172): build once offline, walk forever. */
  def knnGraphApprox(emb: DataFrame, idCol: String, vecCol: String, k: Int,
                     rounds: Int = 4, iterK: Int = -1,
                     checkpoint: DataFrame => DataFrame = _.localCheckpoint()
                    ): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val vecs = emb.select(col(idCol).cast("long"),
        quantized(vecCol))
      .as[(Long, Array[Long])].persist()
    try knnGraphApproxFromQuantized(vecs, k, rounds, iterK, checkpoint)
    finally vecs.unpersist()
  }

  /** [[knnGraphApprox]] over an already micro-quantized corpus (the
    * [[knnGraphFromQuantized]] pairing). Caller manages persistence of
    * `vecsIn`; every round's state is materialized via `checkpoint`, so
    * the result does not depend on the input staying cached. */
  def knnGraphApproxFromQuantized(vecsIn: Dataset[(Long, Array[Long])], k: Int,
                                  rounds: Int = 4, iterK: Int = -1,
                                  checkpoint: DataFrame => DataFrame = _.localCheckpoint(),
                                  warmInit: Option[DataFrame] = None
                                 ): DataFrame = {
    val spark = vecsIn.sparkSession
    val vecs = vecsIn.toDF("node", "nv")
    val n = vecs.count()
    // working-list width: THE recall knob, and it must grow (mildly)
    // with n — on uniform random 64-d vectors, the no-structure worst
    // case, a FIXED width decays with corpus size (kw=16: recall 0.96 at
    // n=500 but 0.74 at n=2000 after 4 rounds; kw=24 restores 0.95 at
    // n=2000), the NN-descent paper's K~log n guidance. 2.2·log₂n gives
    // 20 at n=500, 24 at n=2000, ~66 at 10⁹ — the HNSW M=16–64 band —
    // and per-round work stays O(n·kw²), sub-quadratic throughout.
    // Wider lists beat extra rounds: more transitivity paths per round
    // vs re-walking the ones it has (kw=8 flatlined at 0.59 after 8
    // rounds while kw=16×4 reached 0.96 at n=500).
    val kw = if (iterK > 0) iterK
      else math.max(2 * k,
        math.ceil(2.2 * math.log(n.toDouble + 1) / math.log(2.0)).toInt)
    // exchange width for the loop: the configured parallelism, RAISED
    // when the per-round candidate mass (≤ 4·kw²·n pairs, both
    // directions, ~50 B serialized each) outgrows the §2.2 per-partition
    // band — scale-adaptive upward, never below the configured cores.
    // (Deriving the width from bytes ALONE was measured 1.8× slower at
    // sf0.1: the round stages are compute-parallel — d2 kernel + heap
    // cuts — so shrinking below the core count serializes real work,
    // not just task overhead.)
    val shufN = spark.sessionState.conf.numShufflePartitions
    val loopW = math.max(shufN,
      widthForBytes(4.0 * kw * kw * math.max(n, 1L) * 50.0))
    def d2of(a: Column, b: Column): Column =
      graft.exprs.GraftFunctions.call("graft_sqdist_q", a, b)
    // score a (vid, nbr) candidate frame: two id-equi-joins fetch the
    // quantized vectors. The CANDIDATE side is O(n·iterK²) rows — never
    // broadcastable — but the VECTOR side is n rows of ~600 B, so below
    // [[DescentBroadcastCorpusRows]] it rides an explicit broadcast hint
    // (two map-side passes, no exchange) and above it both sides
    // hash-partition by id as before. This is the size decision AQE made
    // at runtime, now taken from the already-counted n so the round loop
    // can run AQE-off (see the loop comment below) without losing it.
    val vecsBroadcastable = n <= DescentBroadcastCorpusRows
    def scored(cand: DataFrame): DataFrame = {
      val va = vecs.select(col("node").as("vid"), col("nv").as("va"))
      val vb = vecs.select(col("node").as("nbr"), col("nv").as("vb"))
      val j =
        if (vecsBroadcastable)
          cand.join(broadcast(va), "vid").join(broadcast(vb), "nbr")
        else cand.join(va, "vid").join(vb, "nbr")
      j.select(col("vid"), col("nbr"), d2of(col("va"), col("vb")).as("d2"))
    }
    def cutKw(df: DataFrame): DataFrame =
      graft.plans.TopK.perKey(df, Seq("vid"),
        Seq(col("d2").asc, col("nbr").asc), kw)
    // ---- init: SALTED deterministic xxhash cliques --------------------
    // One hash partition alone would strand the descent: every clique's
    // neighbor-of-neighbor closure is the clique itself, all of whose
    // pairs were already scored at init, so no round can ever add an
    // edge (measured: recall flatlined at the init-only 0.07). The union
    // of `initSalts` INDEPENDENT clique partitions is a connected
    // expander w.h.p. — the role the paper's random k-regular init
    // plays — while staying a bounded self-join (≈ salts·bucket·n pairs,
    // no global sort, no dense-id assumption). (A sign-LSH/SimHash
    // seeded init was measured and REJECTED: on the uniform 64-d test
    // vectors random hyperplane bits carry almost no neighbor signal —
    // recall 0.710 vs 0.744 at kw=16 — and it costs expander diversity;
    // content-aware seeding only pays on clustered corpora, which the
    // working-width rule above already handles conservatively.)
    val nBuckets = math.max(1L, n / math.max(1, 2 * kw))
    val initSalts = 3
    // all salts ride ONE self-join: bucket ids are disambiguated by salt
    // (b·salts + t), so cliques from different partitions never collide
    // and the whole init is a single width-pinned exchange pair instead
    // of one per salt. Each unordered pair is scored ONCE (d2 is
    // symmetric); both directed copies are exploded back out
    // post-scoring.
    val bucketed = (0 until initSalts).map { t =>
      vecs.select(col("node"),
        (pmod(xxhash64(col("node"), lit(t)), lit(nBuckets)) * initSalts + t)
          .as("b"))
    }.reduce(_ union _)
    val bl = bucketed.select(col("b"), col("node").as("vid"))
      .repartition(loopW, col("b"))
    val br = bucketed.select(col("b"), col("node").as("nbr"))
      .repartition(loopW, col("b"))
    val initPairs = bl.join(br, "b").where(col("vid") < col("nbr"))
      .select("vid", "nbr").dropDuplicates("vid", "nbr")
    // ---- NN-descent rounds (INCREMENTAL: the paper's new/old flags) ---
    // Only pairs with at least one NEW endpoint-edge are generated each
    // round: any old×old pair was already generated in the round its
    // younger edge arrived, so rescanning it finds nothing. Converged
    // lists stop producing candidates and late rounds collapse to the
    // shrinking frontier — measured 6.6 s → ~3 s on the sf0.1 table
    // (and the property that keeps round cost ∝ churn, not corpus, at
    // scale). `isnew` is aggregated with max() across the fwd/reverse
    // duplicate of an edge (dropDuplicates would pick an arbitrary side
    // and make the candidate set partitioning-dependent).
    // emit both directed copies of a scored pair in ONE pass (an
    // explode, not a union of two projections — a union would run the
    // scoring subtree twice per consumer)
    def bothDirections(scoredPairs: DataFrame): DataFrame =
      scoredPairs.select(explode(array(
          struct(col("vid"), col("nbr"), col("d2")),
          struct(col("nbr").as("vid"), col("vid").as("nbr"), col("d2"))))
        .as("e")).select(col("e.vid"), col("e.nbr"), col("e.d2"))
    // (The descent loop runs AQE-OFF — round 17, revising the round-16
    // call that kept it on. AQE's one measured contribution here was the
    // runtime broadcast of the vector side of the scoring joins; that
    // decision is now taken explicitly from the already-counted n (see
    // `vecsBroadcastable`), and the two hazards AQE would otherwise
    // guard — input-byte coalescing of exploding exchanges and skew —
    // are already closed by the operator's own invariants: every
    // exchange is width-pinned (`repartition(N, ...)`) and per-key
    // fan-out is capped at 2·iterK by the reverse-degree cut. What
    // AQE-off removes is the per-exchange query-stage job: one action
    // per round instead of 8-10, the driver-gap cost that kept q171
    // flat from 8 to 32 cores.)
    // warm start (graph MERGE): already-scored edges — e.g. the union of
    // two shard indexes — join the clique init as round-0 state. Their d2
    // came from the same exact integer kernel, so the groupBy-min is a
    // pure dedup against clique pairs that rescored the same edge; every
    // warm edge is NEW (its neighbor-of-neighbor closure has never been
    // explored across the shard boundary). The cliques stay at full
    // strength: they are the cross-shard expander the union graphs lack.
    val initScored = bothDirections(scored(initPairs))
    val seeded = warmInit match {
      case Some(warm) =>
        initScored.select("vid", "nbr", "d2")
          .union(warm.select(col("vid").cast("long"), col("nbr").cast("long"),
            col("d2").cast("long")))
          .groupBy("vid", "nbr").agg(min(col("d2")).as("d2"))
      case None => initScored
    }
    // the INIT checkpoint stays under AQE: the warm-start semi-joins
    // (knnGraphMerge) and the clique self-join are corpus-scale joins
    // whose sides AQE runtime-sizes (measured: folding init into the
    // AQE-off region cost q177 +0.6 s); only the ROUND loop below runs
    // AQE-off — its joins are all explicitly decided (broadcast gate,
    // width pins, degree caps), so query-stage jobs are pure overhead
    var g = checkpoint(cutKw(seeded).withColumn("isnew", lit(true)))
    withLoopConf(spark, loopW) {
    // deterministic EARLY EXIT: when a round ends with zero NEW edges
    // surviving the cut, the next round's candidate frontier is empty by
    // construction (only new edges generate candidates), so every
    // remaining round would return g unchanged — stopping is a pure
    // corpus function (no timing, no sampling) and the final top-k is
    // IDENTICAL to running all `rounds` out (KnnGraphApproxSpec pins the
    // round-count invariance). Converged/clustered corpora stop paying
    // for rounds they can't use; the probe is one cheap scan of the
    // just-checkpointed round state, skipped after the last round.
    var round = 1
    var converged = false
    while (round <= rounds && !converged) {
      val fwd = g.select(col("vid"), col("nbr"), col("d2"), col("isnew"))
      // reverse edges capped at iterK per node (in-degree is the skewed
      // side); ranking reuses the stored d2 so the cap is deterministic
      val revCapped = graft.plans.TopK.perKey(
        g.select(col("nbr").as("vid"), col("vid").as("nbr"),
          col("d2"), col("isnew")),
        Seq("vid"), Seq(col("d2").asc, col("nbr").asc), kw)
      // ONE width-pinned exchange serves the whole round head: the
      // repartition on the source node feeds (a) the isnew-merging
      // aggregate — hashpartitioning(u) satisfies ClusteredDistribution
      // (u, v), so the groupBy adds no exchange — and (b) BOTH sides of
      // the self-join, which filter/project from it partitioning-intact.
      // The explicit pin (not AQE's choice) is the q126 rule: the join's
      // OUTPUT fans out 2·iterK× over its input, exactly the shape
      // AQE's input-byte sizing would coalesce into stragglers.
      // (max(isnew) rather than dropDuplicates: an edge can arrive new
      // in one direction and old via the reverse cap, and an arbitrary
      // pick would make the candidate set partitioning-dependent.)
      val adj = fwd.union(revCapped)
        .repartition(loopW, col("vid"))
        .groupBy(col("vid").as("u"), col("nbr").as("v"))
        .agg(max(col("isnew")).as("isnew"))
      // neighbor-of-neighbor: NEW edges paired against the full
      // adjacency (both output orders, so both endpoint lists learn)
      val lft = adj.where(col("isnew")).select(col("u"), col("v").as("v1"))
      val rgt = adj.select(col("u"), col("v").as("v2"))
      val cand = lft.join(rgt, "u").where(col("v1") =!= col("v2"))
        .select(explode(array(
            struct(col("v1").as("vid"), col("v2").as("nbr")),
            struct(col("v2").as("vid"), col("v1").as("nbr"))))
          .as("e")).select(col("e.vid"), col("e.nbr"))
        .dropDuplicates("vid", "nbr")
      val fresh = cand.join(g.select("vid", "nbr"), Seq("vid", "nbr"), "left_anti")
      // scoring runs PER DIRECTION, so a both-directions-fresh pair
      // (the common case) rides the vector-fetch joins and the d2
      // kernel twice. The init path's score-once-explode-after shape
      // was ported here and MEASURED SLOWER (q171 sf0.1 ONLY-harness
      // A/B: 6.7 s per-direction vs 10.1 s canonical-collapse): the
      // collapse needs a (min,max)-keyed groupBy exchange per round
      // plus a flag-filtered explode, and that exchange costs more
      // than the saved d2 evals — the codegen kernel on 64-long
      // arrays is cheap, exchanges are not. Init differs because its
      // clique pairs are BORN canonical (vid < nbr from the bucket
      // self-join) — no collapse exchange needed there.
      g = checkpoint(cutKw(
        g.withColumn("isnew", lit(false)).select("vid", "nbr", "d2", "isnew")
          .union(scored(fresh).withColumn("isnew", lit(true)))))
      if (round < rounds) converged = g.where(col("isnew")).isEmpty
      round += 1
    }
    } // withAqeOff
    val top = graft.plans.TopK.perKey(g, Seq("vid"),
      Seq(col("d2").asc, col("nbr").asc), k)
    val w = Window.partitionBy("vid").orderBy(col("d2"), col("nbr"))
    top.withColumn("rk", row_number().over(w).cast("long"))
      .select(col("vid"), col("rk"), col("nbr"), col("d2"))
      .orderBy("vid", "rk")
  }

  /** MEASURED single-box crossover between the exact tile scan and
    * NN-descent (SURVEY §9, the r13 blow-up audit): overhead-subtracted
    * marginal slopes put the exact kernel at ~1.1 ns/pair (a tight
    * codegen loop over primitive longs) vs the descent at ~118
    * ns/pair-eval (candidates ride shuffled joins), so exact's n² · 1.1
    * overtakes the descent's n·4kw²·rounds · 118 around n ≈ 8×10⁵.
    * Below it the quadratic scan is absolutely faster AND exact; above
    * it the scan's pair count is the thing that stops scaling (10⁹
    * vectors ⇒ 10¹⁸ pairs, infeasible on any cluster). */
  val KnnBuildCrossover: Long = 800000L

  /** Corpus size at and below which the NN-descent scoring joins
    * broadcast the quantized VECTOR side instead of shuffling both sides
    * by id: a (id, 64×BIGINT) row is ~600 B, so the bound caps the
    * broadcast at ~60 MB — comfortably inside executor/driver budgets —
    * while above it the vector table shuffles as before (the candidates
    * side is O(n·iterK²) rows and never broadcasts at any n). This is
    * the same size decision AQE made at runtime when it planned the
    * loop; taking it from the already-counted n lets the round loop run
    * AQE-off (one job per round instead of one per exchange). */
  val DescentBroadcastCorpusRows: Long = 100000L

  /** Build a kNN graph by the MEASURED-optimal construction for the
    * corpus size (the `weightedJaccardAuto` decision-rule pattern): the
    * exact [[knnGraph]] tile scan at or below [[KnnBuildCrossover]] rows,
    * [[knnGraphApprox]]'s NN-descent above. Same output schema either
    * way; below the bound the result is exact (a strict quality upgrade
    * over running the descent there), above it the descent's recall
    * contract applies. Both arms are deterministic pure corpus
    * functions, so the auto form is fixture-oracle eligible — what
    * changes at the crossover is cost and recall, never determinism.
    * This is the build [[graft.rel.PipelineQueries.servedGraphFor]] and
    * the insert/delete/merge base-graph resolutions publish. */
  def knnGraphAuto(emb: DataFrame, idCol: String, vecCol: String, k: Int,
                   rounds: Int = 4, iterK: Int = -1,
                   checkpoint: DataFrame => DataFrame = _.localCheckpoint(),
                   knownCount: Long = -1L): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val vecs = emb.select(col(idCol).cast("long"), quantized(vecCol))
      .as[(Long, Array[Long])].persist()
    try knnGraphAutoFromQuantized(vecs, k, rounds, iterK, checkpoint, knownCount)
    finally vecs.unpersist()
  }

  /** [[knnGraphAuto]] over an already micro-quantized corpus.
    * `knownCount` lets a caller that already paid the fingerprint
    * aggregate (e.g. the ModelStore key resolution) supply the row
    * count instead of re-counting; -1 counts here. */
  def knnGraphAutoFromQuantized(vecs: Dataset[(Long, Array[Long])], k: Int,
                                rounds: Int = 4, iterK: Int = -1,
                                checkpoint: DataFrame => DataFrame = _.localCheckpoint(),
                                knownCount: Long = -1L): DataFrame = {
    val n = if (knownCount >= 0L) knownCount else vecs.count()
    if (n <= KnnBuildCrossover) knnGraphFromQuantized(vecs, k)
    else knnGraphApproxFromQuantized(vecs, k, rounds, iterK, checkpoint)
  }

  /** MERGE two kNN-graph indexes into one index over the union corpus —
    * the index-COMPACTION verb completing the lifecycle (build, publish,
    * serve, insert q174, delete q175, merge): the shape under sharded
    * construction at 10⁹ vectors (build S shard indexes independently —
    * each its own sub-quadratic [[knnGraphApprox]] job over n/S rows —
    * then fold them together), and under federation (yesterday's index +
    * today's, two crawls, two sources).
    *
    * A naive union of the edge tables is NOT an index over the union: it
    * has zero cross-shard edges, and a node whose true union-top-k live
    * entirely in the other shard serves garbage. The merge is NN-descent
    * ([[knnGraphApproxFromQuantized]]) WARM-STARTED from the union of
    * both edge tables: the shard lists arrive as round-0 state flagged
    * NEW (their neighbor-of-neighbor closures have never crossed the
    * boundary), the salted cliques provide the cross-shard expander, and
    * because every node starts with its shard-local near-neighborhood
    * already solved, the descent needs FEWER rounds than a from-scratch
    * build (default 3 vs the build's 4; KnnGraphMergeSpec measures the
    * round-for-round advantage). Work stays O(n·kw²·rounds); the warm
    * edges' distances are exact and are never recomputed (groupBy-min
    * dedup against clique rescores).
    *
    * `graphA`/`graphB` are (vid, rk, nbr, d2) edge tables over DISJOINT
    * id sets (the [[knnGraph]]/[[knnGraphApprox]] output shape — rk is
    * ignored); `emb` is the union corpus carrying every id of both.
    * Deterministic for deterministic inputs (hash init, total-order
    * cuts, fixed rounds) ⇒ fixture-oracle eligible. */
  def knnGraphMerge(graphA: DataFrame, graphB: DataFrame,
                    emb: DataFrame, idCol: String, vecCol: String, k: Int,
                    rounds: Int = 3, iterK: Int = -1,
                    checkpoint: DataFrame => DataFrame = _.localCheckpoint()
                   ): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // Federation hygiene: a shard index may be OLDER than the union
    // corpus (ids since deleted). Warm edges are never rescored or
    // corpus-checked downstream — the descent only scores FRESH
    // candidates — so a stale endpoint would ride straight into the
    // merged index as a ghost node the serving walk then dereferences.
    // Two semi-joins (bounded: the edge table is n·k rows) drop any edge
    // touching a non-member before it can seed anything.
    val ids = emb.select(col(idCol).cast("long").as("node"))
    val warm = graphA.select(col("vid"), col("nbr"), col("d2"))
      .union(graphB.select(col("vid"), col("nbr"), col("d2")))
      .join(ids.select(col("node").as("vid")), Seq("vid"), "left_semi")
      .join(ids.select(col("node").as("nbr")), Seq("nbr"), "left_semi")
      .select("vid", "nbr", "d2")
    val vecs = emb.select(col(idCol).cast("long"), quantized(vecCol))
      .as[(Long, Array[Long])].persist()
    try knnGraphApproxFromQuantized(vecs, k, rounds, iterK, checkpoint,
      warmInit = Some(warm))
    finally vecs.unpersist()
  }

  /** A beam-walk serving budget: HNSW's (ef, rounds, entry-scan) triple. */
  final case class BeamBudget(beamWidth: Int, rounds: Int, entries: Int)

  /** Corpus size at and below which the MEASURED fixture budgets
    * (beam 32, rounds 3, entries 64 — the round-13 budget sweep's
    * optimum: (64 entries, 3 rounds) read recall 0.94 at 38 steady-state
    * jobs on the graphK=3 probe, see [[beamSearchAnnOnGraph]])
    * suffice. Above it recall decays with the walk's hop radius: the
    * r15 lifecycle audit read 0.84 at n = 1.7×10⁶ on these defaults
    * where (96, 4, 256) read 1.0 (`descent_lifecycle_r15.json`). */
  val BeamBudgetRefN: Long = 100000L

  /** The MEASURED serve-budget-vs-n rule (the [[knnGraphAuto]] pattern,
    * round-15 verdict item 1): walk budgets must GROW with corpus size —
    * a greedy walk's hop count to a fixed neighborhood scales with
    * log n, and the beam must widen with it to keep alternate paths
    * alive. Per decade above [[BeamBudgetRefN]] the rule doubles the
    * beam (ef), adds one round, and doubles the entry scan, with the
    * decade count rounded up from the HALF-decade point — plain
    * ceil left the tail of each decade on the previous step's budget,
    * and the lifecycle audits measured that tail too weak: step-1
    * (64, 4, 128) reads 0.92 recall@5 at n = 8.5×10⁵ (8.5× ref — the
    * descent-built shard) where step-2 budgets read 1.000, while at
    * 2×10⁵ step 1 reads 1.000 (committed `descent_lifecycle_r17.json` +
    * `beam_budget_rule_r17.json`, which also carries each scale's
    * previous-step counterfactual). At n = 1.7×10⁶ the rule yields
    * (128, 5, 256), strictly dominating the measured-sufficient
    * (96, 4, 256) point; at gate SFs (n ≤ 2×10³) it is the identity,
    * so declared-query bytes are unchanged. Caps at five steps
    * (beam 1024, rounds 8, entries 2048 — the billion-vector regime,
    * where per-query work is still only O(beam·graphK·rounds·d)).
    * BeamBudgetRuleProbe is the two-scale recall evidence. */
  def beamBudgetFor(n: Long): BeamBudget = beamBudgetAt(beamStepsFor(n))

  /** [[beamBudgetFor]]'s step count at corpus size `n`: 0 at and below
    * [[BeamBudgetRefN]], then one per decade rounded up from the
    * half-decade point, capped at 5. */
  def beamStepsFor(n: Long): Int =
    if (n <= BeamBudgetRefN) 0
    else math.min(5, math.ceil(math.log10(n.toDouble / BeamBudgetRefN) + 0.5).toInt)

  /** The budget `steps` decades above the reference: beam and entry scan
    * double per step, rounds grow by one. */
  def beamBudgetAt(steps: Int): BeamBudget =
    BeamBudget(32 << steps, 3 + steps, 64 << steps)

  /** Resolve a caller's (beamWidth, rounds, entries) against the rule:
    * -1 (the serving entry points' default) means "from [[beamBudgetFor]]
    * at this corpus's size"; an explicit value always wins. `n` is only
    * forced when some knob is auto — an explicit budget costs no count
    * job. */
  private def resolveBudget(bw: Int, rd: Int, en: Int,
                            n: => Long): BeamBudget = {
    if (bw > 0 && rd > 0 && en > 0) BeamBudget(bw, rd, en)
    else {
      val auto = beamBudgetFor(n)
      BeamBudget(if (bw > 0) bw else auto.beamWidth,
        if (rd > 0) rd else auto.rounds,
        if (en > 0) en else auto.entries)
    }
  }

  /** Graph-traversal ANN: greedy BEAM SEARCH over the exact kNN graph
    * (declared q169) — the HNSW-family serving pattern, single-layer:
    * [[knnGraph]] is exactly the structure NSW/HNSW construction starts
    * from, and this is the query-time half (Malkov & Yashunin 2016's
    * SEARCH-LAYER with a fixed round budget).
    *
    * Relational formulation: the whole walk state is ONE per-query
    * LEDGER of every (node, d2) ever scored — "visited" is by
    * construction the scored set (expansion only ever starts from the
    * beam, and the beam is the ledger's top `beamWidth` cut, so
    * TopK(TopK(S) ∪ Δ) = TopK(S ∪ Δ) makes the derived beam identical
    * to an explicitly-carried one). The ledger is seeded with the query
    * node itself at d2 = 0 (queries here are corpus members), so its own
    * out-edges — the graph's qid→true-kNN list — expand in round 1;
    * self is excluded only from the final top-k. Each round derives the beam with
    * [[graft.plans.TopK.perKey]], expands it through the adjacency
    * table (one equi-join), drops already-scored nodes (anti-join
    * against the ledger), scores the fresh frontier (integer
    * `graft_sqdist_q` — q157's exactness contract, so the trajectory is
    * deterministic on any engine/partitioning), and unions it into the
    * ledger — the round's single localCheckpoint, so the driver loop's
    * lineage stays flat and the frontier plan runs ONCE per round
    * (carrying beam + visited as separate checkpoints re-ran the
    * frontier for each: measured 68 steady-state jobs → this shape's
    * ~half, the driver-gap term that dominates locally). All |Q|
    * queries advance in the SAME join — per-round cost is bounded by
    * |Q|·beamWidth·graphK rows, never the corpus — and the ledger is
    * bounded by |Q|·beamWidth·graphK·rounds rows.
    *
    * Entry points are the `entries` corpus nodes with the smallest
    * xxhash64 id hash — deterministic, content-independent, spread
    * across the id space (HNSW's arbitrary-entry role). Fixed `rounds`
    * rather than a convergence test keeps the output a pure function of
    * the corpus (committed-fixture oracle); the recall spec measures the
    * budget's sufficiency against the exact top-k. `beamWidth` is the
    * HNSW `ef` knob and must sit well above k — measured on the fixture
    * (500 random 64-d vectors, the hardest navigability case): beam 8 →
    * recall 0.46, beam 32 → ≥ 0.9.
    *
    * `entries` is the coarse LAYER of the walk (HNSW's other half, in
    * its degenerate scan form): all `entries` landmark nodes — smallest
    * xxhash64, content-independent — are scored map-side into the
    * initial ledger, so the walk starts near the answer and needs fewer
    * rounds. Scoring a landmark costs one map-side distance eval
    * (|Q|·entries rows — no round, no exchange), while a round costs
    * ~7 jobs of the driver loop, so entries are the cheap half of the
    * budget. Measured on the graphK=3 navigability probe: the old
    * (entries=8, rounds=4) budget reads recall 0.94 at 45 steady-state
    * jobs; (64, 3) reads the same 0.94 at 38 jobs — one whole round
    * bought back; 128 entries SATURATES (0.92 — extra random landmarks
    * dilute the beam), hence the 64 default. A full landmark-graph
    * descent (sample √n, build a second graph, walk it first) is the
    * non-degenerate form — still unjustified a decade up (round 14,
    * 20k distinct uniform vectors at the starved graphK=3 probe:
    * entries 8 → 128 moves recall only 0.66 → 0.68 at rounds=1 and
    * 0.74 → 0.78 at rounds=4, while each round buys ~0.04 at 7 jobs —
    * entry QUALITY is not the binding constraint, graph connectivity
    * is, and a landmark graph only improves entries) and degenerate to
    * measure on the replica blow-up corpus (byte-identical twins make
    * every budget read recall 1.0); unjustified while the scan layer
    * saturates
    * at 64 points (the round-13/14 budget sweeps above).
    *
    * Scale shape: at 100 TB the graph is built once offline (the q157
    * scan) and this search touches it `rounds` times per query BATCH via
    * joins — per-query work is O(beamWidth·graphK·rounds·d), the property
    * that makes graph ANN the serving-side winner; the IVF/PQ paths
    * (q55/q76) stay the scan-side arms. */
  def beamSearchAnn(emb: DataFrame, idCol: String, vecCol: String,
                    queryIds: Seq[Long], k: Int, graphK: Int = 8,
                    beamWidth: Int = -1, rounds: Int = -1,
                    entries: Int = -1,
                    // per-round materializer: localCheckpoint keeps the
                    // driver loop's lineage flat; a reliable .checkpoint()
                    // suits long walks on a real cluster; tests pass
                    // identity to expose the full multi-round plan
                    checkpoint: DataFrame => DataFrame = _.localCheckpoint()
                   ): DataFrame = {
    val vecs = emb.select(col(idCol).cast("long").as("node"),
      quantized(vecCol).as("nv")).persist()
    try {
      val qs = vecs.where(col("node").isin(queryIds: _*))
        .select(col("node").as("qid"), col("nv").as("qv"))
      // seed the ledger with the query node ITSELF at d2 = 0: it tops the
      // beam in round 1, so its own adjacency — the graph's qid→true-kNN
      // out-edges, the single most informative edge set — is expanded
      // immediately (without the seed, scoreOf's self-filter kept qid out
      // of the ledger forever: the anti-join could never suppress its
      // re-arrival via reverse edges, and its out-edges never expanded)
      val seed = qs.select(col("qid"), col("qv"),
        col("qid").as("node"), lit(0L).as("d2"))
      beamWalk(vecs, qs, Some(seed), excludeSelf = true,
        k, graphK, beamWidth, rounds, entries, checkpoint)
    } finally vecs.unpersist()
  }

  /** Out-of-corpus serving variant of [[beamSearchAnn]]: the queries are
    * EXTERNAL vectors (`queries(qidCol, qvecCol)`), not corpus members —
    * the HNSW serving shape proper, where query ids are caller labels in
    * their own namespace. No self-seed exists (the query is not a graph
    * node) and no self-exclusion applies (a corpus node id equal to a
    * query label is a coincidence, not identity), so the walk is the
    * pure entry-point navigation the in-corpus navigability spec
    * measures; everything else — graph, budget, determinism contract —
    * is shared with the in-corpus form. */
  def beamSearchAnnVectors(emb: DataFrame, idCol: String, vecCol: String,
                           queries: DataFrame, qidCol: String, qvecCol: String,
                           k: Int, graphK: Int = 8, beamWidth: Int = -1,
                           rounds: Int = -1, entries: Int = -1,
                           checkpoint: DataFrame => DataFrame = _.localCheckpoint()
                          ): DataFrame = {
    val vecs = emb.select(col(idCol).cast("long").as("node"),
      quantized(vecCol).as("nv")).persist()
    try {
      val qs = queries.select(col(qidCol).cast("long").as("qid"),
        quantized(qvecCol).as("qv"))
      beamWalk(vecs, qs, seed = None, excludeSelf = false,
        k, graphK, beamWidth, rounds, entries, checkpoint)
    } finally vecs.unpersist()
  }

  /** [[beamSearchAnn]] served off a PREBUILT kNN graph — the build/serve
    * split the 100-TB story needs: `graph` is the persisted output of
    * [[knnGraph]] or [[knnGraphApprox]] (any frame with `vid`/`nbr`
    * columns, e.g. read back from parquet), built ONCE offline; this
    * call only walks it. The walk's plan therefore contains zero graph-
    * construction stages (no tile scan, no descent rounds — the
    * job-ledger spec in BeamAnnServeSpec pins that), and per-batch cost
    * is the walk's own O(|Q|·beamWidth·graphK·rounds·d). Edges are
    * symmetrized inside the walk (the NSW navigability recipe), so
    * callers persist the raw directed build output as-is. */
  def beamSearchAnnOnGraph(graph: DataFrame,
                           emb: DataFrame, idCol: String, vecCol: String,
                           queryIds: Seq[Long], k: Int,
                           beamWidth: Int = -1, rounds: Int = -1,
                           entries: Int = -1,
                           checkpoint: DataFrame => DataFrame = _.localCheckpoint()
                          ): DataFrame = {
    val vecs = emb.select(col(idCol).cast("long").as("node"),
      quantized(vecCol).as("nv")).persist()
    try {
      val qs = vecs.where(col("node").isin(queryIds: _*))
        .select(col("node").as("qid"), col("nv").as("qv"))
      val seed = qs.select(col("qid"), col("qv"),
        col("qid").as("node"), lit(0L).as("d2"))
      beamWalk(vecs, qs, Some(seed), excludeSelf = true,
        k, graphK = 0, beamWidth, rounds, entries, checkpoint,
        prebuilt = Some(graph))
    } finally vecs.unpersist()
  }

  /** [[beamSearchAnnVectors]] served off a prebuilt graph — the external-
    * vector serving form of [[beamSearchAnnOnGraph]] (same split, same
    * contract; no self-seed, no self-exclusion). */
  def beamSearchAnnVectorsOnGraph(graph: DataFrame,
                                  emb: DataFrame, idCol: String, vecCol: String,
                                  queries: DataFrame, qidCol: String, qvecCol: String,
                                  k: Int, beamWidth: Int = -1, rounds: Int = -1,
                                  entries: Int = -1,
                                  checkpoint: DataFrame => DataFrame = _.localCheckpoint()
                                 ): DataFrame = {
    val vecs = emb.select(col(idCol).cast("long").as("node"),
      quantized(vecCol).as("nv")).persist()
    try {
      val qs = queries.select(col(qidCol).cast("long").as("qid"),
        quantized(qvecCol).as("qv"))
      beamWalk(vecs, qs, seed = None, excludeSelf = false,
        k, graphK = 0, beamWidth, rounds, entries, checkpoint,
        prebuilt = Some(graph))
    } finally vecs.unpersist()
  }

  /** INCREMENTAL kNN-graph maintenance — insert a DELTA batch of vectors
    * into a prebuilt graph without rebuilding the base (declared q174):
    * the missing half of the build/serve split. [[knnGraphApprox]] makes
    * the offline build sub-quadratic and [[beamSearchAnnOnGraph]] serves
    * off the persisted edge table, but until now ANY new corpus rows
    * forced a full rebuild; this is the HNSW insertion recipe
    * (Malkov & Yashunin 2016 §4, single-layer) as bounded joins:
    *
    *  1. PLACE each new vector by beam-walking the EXISTING graph (the
    *     external-vector walk — one map-side edge pass per round, beam
    *     broadcast): its k best base nodes, exact integer distances.
    *  2. INTRA-BATCH edges: the exact tile scan over the DELTA ONLY
    *     (m² on the batch, never n² — a delta is ≪ the corpus by
    *     definition; a same-content pair arriving in one batch must
    *     still find itself).
    *  3. NEW lists = TopK cut of (placement ∪ intra-batch) per new node.
    *  4. ADOPTION: every accepted edge's reverse is offered to its
    *     target (HNSW's bidirectional connect), and each AFFECTED
    *     node's list is re-cut to k over (its current edges ∪ offers) —
    *     a ≤ m·k-key update joined via broadcast, so base work is
    *     proportional to the delta, not the corpus.
    *
    * Untouched base rows pass through BYTE-IDENTICAL (rk included — no
    * corpus-wide re-rank; the only corpus-sized operations are the
    * walk's per-round map-side edge pass and one broadcast anti-join
    * over the n·k edge table). Distances are exact (`graft_sqdist_q` on
    * micro-quantized BIGINTs) and every cut is total-ordered, so the
    * result is a pure function of (graph, base, delta) — committed-
    * fixture oracle, same as the rest of the graph family. What is
    * approximate is placement recall (the walk, not a scan) — the
    * recall-vs-full-rebuild gate lives in KnnGraphInsertSpec.
    *
    * Contracts: `graph` is the persisted (vid, rk, nbr, d2) output of
    * [[knnGraph]]/[[knnGraphApprox]]/this function over `baseEmb` at
    * this same `k` (d2 IS required here, unlike the serve-only walk);
    * new ids share the graph's id namespace and must be disjoint from
    * base ids (they become graph nodes — not q170's label namespace).
    * The DELTA must be batch-sized, not corpus-sized: the walk
    * broadcasts its beam (m·beamWidth rows CARRYING the query vectors —
    * ~550 B/row at d=64, so ~2.6 GB at m=10⁵), which is the right
    * trade for a delta but not for a backlog. A larger ingest loops
    * this function over bounded chunks — each chunk's walk then also
    * sees the edges its predecessors inserted, the same arrival
    * semantics as HNSW's one-at-a-time insert. */
  def knnGraphInsert(graph: DataFrame,
                     baseEmb: DataFrame, idCol: String, vecCol: String,
                     newEmb: DataFrame, newIdCol: String, newVecCol: String,
                     // wider walk budget than the serving defaults (48×4
                     // vs 32×3): placement is OFFLINE build-side work —
                     // an edge misplaced at insert time degrades every
                     // later query, so the one-time batch pays for
                     // recall the per-query serving path should not
                     // (measured on the 500-vector worst case: delta
                     // recall 0.896 at 32×3 → 0.95+ at 48×4)
                     k: Int, beamWidth: Int = 48, rounds: Int = 4,
                     entries: Int = 64,
                     checkpoint: DataFrame => DataFrame = _.localCheckpoint()
                    ): DataFrame = {
    val spark = graph.sparkSession
    import spark.implicits._
    val baseVecs = baseEmb.select(col(idCol).cast("long").as("node"),
      quantized(vecCol).as("nv")).persist()
    val newVecs = newEmb.select(col(newIdCol).cast("long").as("node"),
      quantized(newVecCol).as("nv")).persist()
    try {
      val edges = graph.select(col("vid").cast("long"),
        col("nbr").cast("long"), col("d2").cast("long"))
      // 1. placement: walk the prebuilt graph with the delta as external
      // query vectors (no self-seed/self-exclusion — new ids are not
      // graph nodes yet)
      val placed = beamWalk(baseVecs,
          newVecs.select(col("node").as("qid"), col("nv").as("qv")),
          seed = None, excludeSelf = false, k, graphK = 0,
          beamWidth, rounds, entries, checkpoint, prebuilt = Some(edges))
        .select(col("qid").as("vid"), col("nbr"), col("d2"))
      // 2. intra-batch: the exact bounded-heap tile scan over the DELTA
      // only (the m² term every HNSW insert pays batch-locally)
      val intra = knnGraphFromQuantized(newVecs.as[(Long, Array[Long])], k)
        .select(col("vid"), col("nbr"), col("d2"))
      // 3. new lists: one cut over both candidate sources (duplicates
      // carry identical exact d2, so the dedup is order-safe)
      val newEdges = checkpoint(graft.plans.TopK.perKey(
        placed.union(intra).dropDuplicates("vid", "nbr"),
        Seq("vid"), Seq(col("d2").asc, col("nbr").asc), k))
      // 4. adoption: offer each accepted edge's reverse to its target;
      // re-cut ONLY the affected ≤ m·k keys (broadcast both ways — the
      // affected set is delta-sized, never corpus-sized)
      val offers = newEdges
        .select(col("nbr").as("vid"), col("vid").as("nbr"), col("d2"))
      val affected = offers.select("vid").distinct()
      val all0 = edges.unionByName(newEdges.select("vid", "nbr", "d2"))
      val updated = graft.plans.TopK.perKey(
        all0.join(broadcast(affected), Seq("vid"))
          .unionByName(offers).dropDuplicates("vid", "nbr"),
        Seq("vid"), Seq(col("d2").asc, col("nbr").asc), k)
      val wAff = Window.partitionBy("vid").orderBy(col("d2"), col("nbr"))
      val updatedRanked = updated
        .withColumn("rk", row_number().over(wAff).cast("long"))
        .select(col("vid"), col("rk"), col("nbr"), col("d2"))
      // pre-insert rows (base graph + freshly-ranked new lists — a new
      // node with no adoption offers still keeps its step-3 list) pass
      // through for every key the adoption step did not touch: original
      // rk byte-identical, no corpus-wide window, just a broadcast
      // anti-join over the n·k edge table (both windows above run only
      // over delta-sized key sets)
      val preRanked = graph
        .select(col("vid").cast("long"), col("rk").cast("long"),
          col("nbr").cast("long"), col("d2").cast("long"))
        .unionByName(newEdges
          .withColumn("rk", row_number().over(wAff).cast("long"))
          .select(col("vid"), col("rk"), col("nbr"), col("d2")))
      val untouched = preRanked.join(broadcast(affected), Seq("vid"), "left_anti")
      untouched.unionByName(updatedRanked).orderBy("vid", "rk")
    } finally { baseVecs.unpersist(); newVecs.unpersist() }
  }

  /** Backlog form of [[knnGraphInsert]]: a delta too large for one
    * batch loops over `chunks` deterministic hash partitions, each
    * chunk inserted against the graph AND corpus state its
    * predecessors left — HNSW's one-at-a-time arrival semantics at
    * batch granularity (a later chunk's walk can land on, and link to,
    * an earlier chunk's nodes; the chain spec pins that with a twin
    * pair split across chunks). Keeps every per-chunk bound of the
    * single-batch form: the beam broadcast carries one chunk's
    * vectors, the intra scan is (m/chunks)², adoption touches
    * ≤ (m/chunks)·k keys per round of the loop. Chunking is by
    * xxhash64 of the id — content-independent and partitioning-free,
    * so the result is a pure function of (graph, base, delta, chunks). */
  def knnGraphInsertChunked(graph: DataFrame,
                            baseEmb: DataFrame, idCol: String, vecCol: String,
                            newEmb: DataFrame, newIdCol: String, newVecCol: String,
                            k: Int, chunks: Int, beamWidth: Int = 48,
                            rounds: Int = 4, entries: Int = 64,
                            checkpoint: DataFrame => DataFrame = _.localCheckpoint()
                           ): DataFrame = {
    require(chunks >= 1, "chunks must be >= 1")
    var g = graph
    var corpus = baseEmb.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("v"))
    val delta = newEmb.select(col(newIdCol).cast("long").as("id"),
      col(newVecCol).as("v"))
    for (c <- 0 until chunks) {
      val chunk = delta.where(pmod(xxhash64(col("id")), lit(chunks)) === c)
      g = checkpoint(knnGraphInsert(g, corpus, "id", "v", chunk, "id", "v",
        k, beamWidth, rounds, entries, checkpoint))
      corpus = corpus.union(chunk)
    }
    g.orderBy("vid", "rk")
  }

  /** DELETE from a prebuilt kNN graph with local repair (declared
    * q175) — the remaining lifecycle verb after build ([[knnGraph]] /
    * [[knnGraphApprox]]), publish (ModelStore), serve
    * ([[beamSearchAnnOnGraph]]) and insert ([[knnGraphInsert]]), and
    * the one data curation requires: a right-to-be-forgotten or
    * retraction batch must leave the index as if the rows were never
    * there — without the full rebuild that a naive drop forces
    * (deleting a node tears a hole in every list that pointed at it;
    * serving over torn lists silently degrades recall).
    *
    *  1. DROP: every edge whose endpoint is deleted goes (two
    *     broadcast anti-joins over the n·k edge table — the delete
    *     batch is model-sized, the corpus never shuffles).
    *  2. AFFECTED = surviving nodes that lost an edge: bounded by the
    *     deleted nodes' in-degree (≈ m·k on non-hub corpora; a hub's
    *     in-edges all point AT it, so its deletion touches many lists —
    *     exactly the lists that would be torn).
    *  3. REPAIR: each torn node is RE-PLACED over the surviving graph
    *     by the beam walk (the insert-placement machinery, self-seeded,
    *     offline 48×4 budget — global reach through entry points, which
    *     a local hop ball lacks: 2-hop repair alone measured 0.866 torn
    *     recall vs 0.992 walked), and the deleted nodes' surviving
    *     neighbors are offered to EACH OTHER (the HNSW reconnection
    *     heuristic — x lost d, and d's other neighbors are the
    *     likeliest replacements). One TopK cut merges surviving edges,
    *     mourner pairs and walk results into the repaired lists.
    *
    * Untouched lists pass through byte-identically rk included (their
    * edges were never torn — original ranks still hold); repaired
    * lists re-rank over an affected-sized window. Exact integer
    * distances + total-order cuts ⇒ pure function of (graph, corpus,
    * deletes) ⇒ committed-fixture oracle; the repaired-recall-vs-
    * rebuild, tombstone-free, bounded-touch and determinism gates live
    * in KnnGraphDeleteSpec.
    *
    * Contracts: `graph` is (vid, rk, nbr, d2) over `baseEmb` at this
    * `k`; `deleteIds` is batch-sized (it broadcasts); `baseEmb` is the
    * PRE-delete corpus (the repair must score candidates the deleted
    * rows can no longer reach, so it reads only surviving vectors). */
  def knnGraphDelete(graph: DataFrame,
                     baseEmb: DataFrame, idCol: String, vecCol: String,
                     deleteIds: Seq[Long], k: Int, repairRounds: Int = 4,
                     repairBeam: Int = 48, repairEntries: Int = 64,
                     checkpoint: DataFrame => DataFrame = _.localCheckpoint()
                    ): DataFrame = {
    val spark = graph.sparkSession
    import spark.implicits._
    knnGraphDelete(graph, baseEmb, idCol, vecCol,
      deleteIds.toDS.toDF("did"), "did", k, repairRounds, repairBeam,
      repairEntries, checkpoint)
  }

  /** DataFrame-side delete batch (round-15 verdict item 5): the ids
    * never materialize on the driver — a declared query or a CDC sink
    * hands the batch over as a frame and the broadcasts below carry it
    * to the executors directly. The batch-sized CONTRACT is unchanged
    * (it must broadcast); what this overload removes is the API inviting
    * a corpus-scale `Seq[Long]` on the driver when the caller already
    * holds the ids distributed. Same algorithm, same output bytes as the
    * Seq form over equal id sets (KnnGraphDeleteSpec pins the parity). */
  def knnGraphDelete(graph: DataFrame,
                     baseEmb: DataFrame, idCol: String, vecCol: String,
                     deleteIds: DataFrame, delIdCol: String, k: Int,
                     repairRounds: Int, repairBeam: Int, repairEntries: Int,
                     checkpoint: DataFrame => DataFrame
                    ): DataFrame = {
    val del = deleteIds.select(col(delIdCol).cast("long").as("did"))
    val vecs = baseEmb.select(col(idCol).cast("long").as("node"),
        quantized(vecCol).as("nv"))
      .join(broadcast(del), col("node") === col("did"), "left_anti")
      .persist()
    try {
      val g0 = graph.select(col("vid").cast("long"), col("rk").cast("long"),
        col("nbr").cast("long"), col("d2").cast("long"))
      // 1. drop every edge touching a deleted node
      val kept = checkpoint(g0
        .join(broadcast(del), col("vid") === col("did"), "left_anti")
        .join(broadcast(del), col("nbr") === col("did"), "left_anti"))
      // 2. the torn lists: survivors that pointed at a deleted node
      val affected = g0
        .join(broadcast(del), col("vid") === col("did"), "left_anti")
        .join(broadcast(del), col("nbr") === col("did"), "left_semi")
        .select("vid").distinct()
      // 3. local repair: neighbors-of-neighbors through the surviving
      // symmetrized graph, scored exactly, cut into the torn lists
      def d2of(a: Column, b: Column): Column =
        graft.exprs.GraftFunctions.call("graft_sqdist_q", a, b)
      def scoreCands(cands: DataFrame): DataFrame = cands
        .join(vecs.select(col("node").as("src"), col("nv").as("va")), "src")
        .join(vecs.select(col("node").as("cand"), col("nv").as("vb")), "cand")
        .select(col("src").as("vid"), col("cand").as("nbr"),
          d2of(col("va"), col("vb")).as("d2"))
      // SEED: reconnect each deleted node's surviving symmetric
      // neighbors to EACH OTHER (the HNSW delete heuristic — x lost d,
      // and d's other neighbors are the likeliest replacements; the
      // 2-hop rounds alone measured 0.866 torn recall, +this seed
      // 0.97+). Pair space is Σ_d degree(d)² — retraction-batch
      // bounded; a hub's funeral is the honest worst case.
      val symFull = g0.select(col("vid"), col("nbr"))
        .unionByName(g0.select(col("nbr").as("vid"), col("vid").as("nbr")))
        .dropDuplicates("vid", "nbr")
      val mourners = symFull
        .join(broadcast(del), col("nbr") === col("did"), "left_semi")
        .join(broadcast(del), col("vid") === col("did"), "left_anti")
        .select(col("nbr").as("d"), col("vid").as("x"))
      val mournCands = mourners.select(col("d"), col("x").as("src"))
        .join(mourners.select(col("d"), col("x").as("cand")), "d")
        .where(col("src") =!= col("cand"))
        .select("src", "cand").dropDuplicates("src", "cand")
        .join(broadcast(affected), col("src") === col("vid"), "left_semi")
      // RE-PLACE each torn node over the surviving graph with the beam
      // walk — the same machinery that places an insert, self-seeded so
      // its own surviving out-edges expand in round 1, entry points
      // giving it the GLOBAL reach a local hop ball lacks (a torn
      // list's true next-nearest can be graph-distant: the 2-hop
      // repair alone measured 0.866 torn recall, +mourner seed 0.893,
      // walk-based 0.992). Per-round cost is the walk's own
      // |torn|·beam·graphK bound — the insert-placement shape.
      val tornQs = broadcast(affected)
        .join(vecs, affected("vid") === vecs("node"))
        .select(col("node").as("qid"), col("nv").as("qv"))
      val tornSeed = tornQs.select(col("qid"), col("qv"),
        col("qid").as("node"), lit(0L).as("d2"))
      val walked = beamWalk(vecs, tornQs, Some(tornSeed), excludeSelf = true,
        k, graphK = 0, beamWidth0 = repairBeam, rounds0 = repairRounds,
        entries0 = repairEntries, checkpoint,
        prebuilt = Some(kept.select(col("vid"), col("nbr"))))
        .select(col("qid").as("vid"), col("nbr"), col("d2"))
      val lists = graft.plans.TopK.perKey(
        kept.join(broadcast(affected), Seq("vid"))
          .select("vid", "nbr", "d2")
          .unionByName(scoreCands(mournCands))
          .unionByName(walked)
          .dropDuplicates("vid", "nbr"),
        Seq("vid"), Seq(col("d2").asc, col("nbr").asc), k)
      val wAff = Window.partitionBy("vid").orderBy(col("d2"), col("nbr"))
      val repaired = lists
        .withColumn("rk", row_number().over(wAff).cast("long"))
        .select(col("vid"), col("rk"), col("nbr"), col("d2"))
      val untouched = kept.join(broadcast(affected), Seq("vid"), "left_anti")
      untouched.unionByName(repaired).orderBy("vid", "rk")
    } finally vecs.unpersist()
  }

  /** See [[LoopConf]]: AQE off around iterative round loops whose round
    * bodies decide every join/width/skew question explicitly — one job
    * per round's checkpoint instead of one per exchange (measured q175:
    * 60 jobs, wall dominated by job count, flat 8→32 cores). Corpus-scale
    * one-off exchanges (graph symmetrization, the descent init) stay
    * OUTSIDE the toggle: AQE's coalescing/skew handling matters there. */
  private def withAqeOff[T](spark: SparkSession)(body: => T): T =
    LoopConf.withAqeOff(spark)(body)

  private def withLoopConf[T](spark: SparkSession, shuffleWidth: Int)
                             (body: => T): T =
    LoopConf.withLoopConf(spark, shuffleWidth)(body)

  private def widthForBytes(bytes: Double): Int =
    LoopConf.widthForBytes(bytes)

  /** Micro-unit quantization shared by the beam-search forms (q157's
    * exactness contract: integer distances ⇒ deterministic walks). */
  private def quantized(name: String): Column =
    expr(s"transform(CAST($name AS ARRAY<DOUBLE>), " +
      "x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))")

  /** The shared walk: graph build off the caller-persisted quantized
    * corpus, entry election, scored-ledger rounds, final top-k cut.
    * `seed` rows (qid, qv, node, d2) pre-populate the ledger (the
    * in-corpus self-seed); `excludeSelf` applies the node ≠ qid
    * convention, meaningful only when query ids ARE corpus node ids.
    * `prebuilt` (vid, nbr, …) skips the inline graph build entirely —
    * the build/serve split: [[knnGraph]]/[[knnGraphApprox]] output
    * persisted once offline, walked here with zero build stages. */
  private def beamWalk(vecs: DataFrame, qs: DataFrame, seed: Option[DataFrame],
                       excludeSelf: Boolean, k: Int, graphK: Int,
                       beamWidth0: Int, rounds0: Int, entries0: Int,
                       checkpoint: DataFrame => DataFrame,
                       prebuilt: Option[DataFrame] = None): DataFrame = {
    // -1 knobs resolve through the measured serve-budget-vs-n rule
    // ([[beamBudgetFor]]); the count rides the caller-persisted corpus
    // and is SHARED with the inline auto-build's routing count below,
    // so auto mode costs at most one cached-scan job over the walk
    // (zero when budgets are explicit and the graph is prebuilt)
    lazy val corpusN = vecs.count()
    val BeamBudget(beamWidth, rounds, entries) =
      resolveBudget(beamWidth0, rounds0, entries0, corpusN)
    require(k <= beamWidth, "final k must fit in the beam")
    val spark = vecs.sparkSession
    import spark.implicits._
    def d2of(a: Column, b: Column): Column =
      graft.exprs.GraftFunctions.call("graft_sqdist_q", a, b)
    // deterministic spread hash for entry election: xxhash64 is a native
    // codegen'd 64-bit mix (a wrapping-multiply splitmix spelled as
    // column algebra trips ANSI overflow checking)
    def mix(c: Column): Column = xxhash64(c)
    // SYMMETRIZED adjacency: the raw kNN digraph funnels into in-degree
    // hubs and strands low-in-degree nodes (greedy search on directed
    // kNN over random high-dim points measurably stalls — recall 0.46
    // on the fixture); adding every edge's reverse is the NSW recipe
    // and restores navigability (0.46 → ≥0.9 measured)
    // the graph is built from the caller's persisted quantized corpus —
    // knnGraph(emb, ...) would re-scan + re-quantize + re-cache it —
    // unless a PREBUILT edge table is served in (q172: the persisted
    // offline build, so the walk's plan contains no build stages at all).
    // The inline build is AUTO-selected by corpus size: the exact tile
    // scan at or below the measured crossover (where it is both faster
    // and exact), NN-descent above — a one-shot q169-style call never
    // carries a Θ(n²) stage past the size where that was the right call.
    val fwd = prebuilt match {
      case Some(edges) => edges.select(col("vid"), col("nbr"))
      case None =>
        knnGraphAutoFromQuantized(vecs.as[(Long, Array[Long])], graphK,
            checkpoint = checkpoint, knownCount = corpusN)
          .select(col("vid"), col("nbr"))
    }
    val graph = checkpoint(fwd
      .union(fwd.select(col("nbr").as("vid"), col("vid").as("nbr")))
      .dropDuplicates("vid", "nbr"))
    val entry = vecs.select(col("node"))
      .orderBy(mix(col("node")), col("node")).limit(entries)
    // broadcast the frontier here too: it is ≤ |Q|·beamWidth·graphK
    // rows against the n-row corpus, and its lineage (join + dedup +
    // anti-join off a checkpointed RDD) gives the planner no reliable
    // size estimate — without the hint a cluster can sort-merge the
    // persisted corpus every round, the exact per-round exchange the
    // adjacency-join hint eliminates
    def scoreOf(frontier: DataFrame): DataFrame = {
      val joined = broadcast(frontier).join(vecs, "node")
      val filtered =
        if (excludeSelf) joined.where(col("node") =!= col("qid"))
        else joined
      filtered.withColumn("d2", d2of(col("qv"), col("nv")))
        .select(col("qid"), col("qv"), col("node"), col("d2"))
    }
    val entryScored = scoreOf(qs.crossJoin(broadcast(entry)))
    // the walk rounds run under AQE-off (see [[withAqeOff]]): one job per
    // round's checkpoint instead of one per exchange — every in-round
    // exchange is query-batch-sized and both corpus-scale joins are
    // broadcast-hinted map-side passes, so there is nothing for AQE to
    // size-adapt at any corpus scale (measured q175: 60 → ~24 jobs)
    var ledger: DataFrame = null
    withAqeOff(spark) {
      ledger = checkpoint(
        seed.map(entryScored.union).getOrElse(entryScored))
      for (_ <- 1 to rounds) {
        val beam = graft.plans.TopK.perKey(ledger,
          Seq("qid"), Seq(col("d2").asc, col("node").asc), beamWidth)
        // BROADCAST the beam side: it is ≤ |Q|·beamWidth rows while the
        // graph is n·graphK edges — without the hint the planner shuffles
        // the GRAPH every round (measured at the 10× blow-up: the walk
        // term grew with the corpus; broadcast makes each round one
        // map-side pass over the checkpointed edge table, no exchange)
        val frontier = broadcast(beam.select(col("qid"), col("qv"), col("node")))
          .join(graph, col("node") === col("vid"))
          .select(col("qid"), col("qv"), col("nbr").as("node"))
          .dropDuplicates("qid", "node")
          .join(ledger.select(col("qid"), col("node")),
            Seq("qid", "node"), "left_anti")
        ledger = checkpoint(ledger.union(scoreOf(frontier)))
      }
    }
    val w = Window.partitionBy("qid").orderBy(col("d2"), col("node"))
    val finalRows =
      if (excludeSelf) ledger.where(col("node") =!= col("qid"))
      else ledger
    finalRows.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= k)
      .select(col("qid"), col("rk"), col("node").as("nbr"), col("d2"))
      .orderBy("qid", "rk")
  }
}
