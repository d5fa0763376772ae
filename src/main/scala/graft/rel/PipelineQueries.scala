package graft.rel

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 training-data-pipeline wave (declared surface, SURVEY §2
  * Part B continuation):
  *
  *   - q122 exact duplicate-span detection (substring-level dedup á la
  *          "Deduplicating Training Data Makes Language Models Better",
  *          Lee et al. 2022): per-document fraction of tokens covered by
  *          a token window that occurs more than once in the corpus.
  *   - q123 interpolated bigram-LM cross-entropy (Jelinek–Mercer
  *          smoothing) — the order-2 extension of q117's unigram scorer.
  *   - q124 k-means cluster assignment (Lloyd, unrolled, integer-exact
  *          micro-unit arithmetic so both engines agree bit-for-bit).
  *   - q125 BPE corpus encoding (applies q121's learned merge table
  *          map-side; deterministic ⇒ committed-fixture oracle).
  *
  * Oracle discipline as in [[Queries]]: BIGINT casts, [[graft.Stable.r4]]
  * rounding, deterministic ORDER BY over a unique key, integer/DECIMAL
  * arithmetic wherever a sum's addend order is not fixed.
  */
object PipelineQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Codegen integer-vector kernels (see [[graft.exprs.LongVecExprs]]). */
  private def callQ(fn: String, a: org.apache.spark.sql.Column,
                    b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.exprs.GraftFunctions.call(fn, a, b)

  // ---- q122: exact duplicate-span detection (substring dedup) ---------------

  /** Substring-level exact dedup signal (Lee et al. 2022's ExactSubstr,
    * reshaped for a relational engine): hash every L=16-token sliding
    * window (stride 1), call a window "duplicated" when its exact content
    * occurs ≥2 times anywhere in the corpus (other docs OR a repeat in
    * the same doc), and report per document how many tokens are covered
    * by the union of its duplicated windows. Suffix arrays give the same
    * answer with L as a minimum match length; the windowed form is the
    * shuffle-friendly equivalent (fixed key width, no global ordering).
    *
    * Shape: window expansion is per-row (transform+slice+explode, the
    * q103 kernel at stride 1); ONE shuffle groups window instances by
    * content (count over a wt-partitioned window — same exchange a
    * groupBy+join would pay, in a single pass); interval-union coverage
    * is a per-doc sort (LEAD over the doc's ≤n surviving starts), exact
    * integer arithmetic throughout. The declared form shuffles the window
    * TEXT so the DuckDB oracle can replay the grouping byte-for-byte; the
    * 100-TB form shuffles xxhash64/128 fingerprints instead (the q21/q34
    * hash-domain trick, L× smaller rows) at a bounded collision risk the
    * oracle comparison cannot accept.
    */
  def q122DupSpans(s: SparkSession, dir: String): DataFrame =
    dupSpans(t(s, dir, "documents"), L = 16)

  /** (doc_id, token array, length) — shared by the span queries. */
  private def tokenized(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), split(col("text"), " ").as("t"))
    .withColumn("n", size(col("t")))

  /** Start offsets of every DUPLICATED L-token window (content occurs
    * ≥2 times corpus-wide) — the shared detection machinery of q122
    * (measurement) and q129 (removal). One content-keyed exchange. */
  private def dupWindowStarts(toks: DataFrame, L: Int): DataFrame =
    toks.where(col("n") >= L)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, n - $L),
              k -> struct(k AS k, array_join(slice(t, k + 1, $L), ' ') AS wt))""")).as("w"))
      .select(col("doc_id"), col("w.k").as("k"), col("w.wt").as("wt"))
      .withColumn("f", count(lit(1)).over(Window.partitionBy("wt")))
      .where(col("f") > 1)

  /** The 100-TB form of [[dupWindowStarts]]: shuffle xxhash64
    * FINGERPRINTS of the windows instead of their text — L× smaller
    * exchange rows, at a 64-bit collision risk (≈ n²/2⁶⁵ false-dup
    * windows) the cross-engine oracle can't accept but a production
    * dedup can. Same keys, same window algebra; [[dupSpans]]'
    * content-domain output is the correctness reference (parity
    * spec'd at test scale, where collisions are vanishingly unlikely).
    */
  private def dupWindowStartsHashed(toks: DataFrame, L: Int): DataFrame =
    toks.where(col("n") >= L)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, n - $L),
              k -> struct(k AS k, xxhash64(array_join(slice(t, k + 1, $L), ' ')) AS wh))""")).as("w"))
      .select(col("doc_id"), col("w.k").as("k"), col("w.wh").as("wh"))
      .withColumn("f", count(lit(1)).over(Window.partitionBy("wh")))
      .where(col("f") > 1)

  /** [[dupSpans]] on the hash domain — identical output wherever no
    * 64-bit window-hash collision occurs (spec-pinned parity). */
  def dupSpansHashed(docs: DataFrame, L: Int): DataFrame = {
    val toks = tokenized(docs)
    dupSpansFrom(toks, dupWindowStartsHashed(toks, L), L)
  }

  /** Core of q122 over any (doc_id, text) frame — spec entry point. */
  def dupSpans(docs: DataFrame, L: Int): DataFrame = {
    val toks = tokenized(docs)
    dupSpansFrom(toks, dupWindowStarts(toks, L), L)
  }

  /** Coverage sweep + per-doc report shared by the content- and
    * hash-domain span detectors. */
  private def dupSpansFrom(toks: DataFrame, dup: DataFrame, L: Int): DataFrame = {
    // union of [k, k+L-1] intervals per doc: sorted starts, each window
    // contributes min(L, gap to next start); the last contributes L
    val cov = dup
      .withColumn("nk", lead(col("k"), 1).over(
        Window.partitionBy("doc_id").orderBy("k")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_windows"),
        sum(when(col("nk").isNull, lit(L))
          .otherwise(least(lit(L), col("nk") - col("k")))).as("dup_tokens"))
    toks.select(col("doc_id"), col("n")).join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
        coalesce(col("n_dup_windows"), lit(0L)).cast("long").as("n_dup_windows"),
        coalesce(col("dup_tokens"), lit(0L)).cast("long").as("dup_tokens"),
        graft.Stable.r4(coalesce(col("dup_tokens"), lit(0L)).cast("double")
          / col("n").cast("double")).as("dup_frac"))
      .orderBy("doc_id")
  }

  val q122Oracle: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t,
                            len(string_split(text, ' ')) AS n FROM documents),
       w AS (SELECT doc_id, k, array_to_string(t[k+1 : k+16], ' ') AS wt
             FROM toks, unnest(generate_series(0, n - 16)) AS u(k)
             WHERE n >= 16),
       f AS (SELECT doc_id, k, COUNT(*) OVER (PARTITION BY wt) AS f FROM w),
       d AS (SELECT doc_id, k,
               LEAD(k) OVER (PARTITION BY doc_id ORDER BY k) AS nk
             FROM f WHERE f > 1),
       cov AS (SELECT doc_id, COUNT(*) AS n_dup_windows,
                 SUM(CASE WHEN nk IS NULL THEN 16
                          ELSE LEAST(16, nk - k) END) AS dup_tokens
               FROM d GROUP BY 1)
       SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
         CAST(t.n AS BIGINT) AS n_tokens,
         CAST(COALESCE(c.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
         CAST(COALESCE(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
         floor(CAST(COALESCE(c.dup_tokens, 0) AS DOUBLE)
               / CAST(t.n AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS dup_frac
       FROM toks t LEFT JOIN cov c USING (doc_id) ORDER BY doc_id"""

  // ---- q123: interpolated bigram-LM cross-entropy ---------------------------

  /** Order-2 LM quality score: per-document cross-entropy under a
    * Jelinek–Mercer interpolated bigram model fit per language on the
    * corpus itself — p(w2|w1) = λ·c(w1,w2)/c(w1·) + (1−λ)·c(·w2)/T with
    * λ=0.7, all counts derived from the SAME bigram stream (history,
    * continuation, and total counts are marginals of the bigram table,
    * so the model is self-consistent and every factor is exact integer
    * arithmetic until the single ln). The interpolation is what q117's
    * unigram can't see: it penalizes improbable token TRANSITIONS, the
    * stronger fluency/boilerplate signal CCNet-style pipelines move to
    * when the unigram head/tail split saturates.
    *
    * Shape: ONE exchange on (lang,w1,w2) — a window count over the
    * bigram stream — scores every instance; the marginal tables (c1, c2,
    * per-lang totals) aggregate the distinct-bigram table (vocab²-bounded,
    * NOT corpus-bounded) and broadcast back, q117's recipe one order up.
    * At 100 TB the broadcast tables are the frequency-cutoff bigram
    * vocabulary; dropping the hints degrades gracefully to shuffle joins
    * on the same keys. Numeric discipline: each −ln p is rounded to 1e-6
    * and cast DECIMAL(18,6) BEFORE the per-doc sum (order-free exact),
    * one r4'd double division at the end.
    */
  def q123BigramLm(s: SparkSession, dir: String): DataFrame =
    bigramXent(t(s, dir, "documents"), lambda = 0.7)

  /** Core of q123 over any (doc_id, lang, text) frame — spec entry point. */
  /** The shared bigram model: per-doc bigram stream plus the
    * vocab²-bounded count table and its marginals. ONE corpus pass
    * builds c12; localCheckpoint materializes it so the marginals (and
    * any downstream scorer) read the bounded table instead of each
    * replaying the corpus scan+explode (5 corpus passes → 2,
    * plan-pinned). Consumed by q123 (scoring) and q133 (PMI mining). */
  private case class BigramModel(bi: DataFrame, c12: DataFrame,
                                 c1: DataFrame, c2: DataFrame, tot: DataFrame)
  private def bigramModel(docs: DataFrame): BigramModel = {
    val bi = docs
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("t"))
      .withColumn("n", size(col("t")))
      .where(col("n") >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        """transform(sequence(0, n - 2),
             i -> struct(t[i] AS w1, t[i + 1] AS w2))""")).as("b"))
      .select(col("doc_id"), col("lang"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c12 = bi.groupBy("lang", "w1", "w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint()
    BigramModel(bi, c12,
      c12.groupBy("lang", "w1").agg(sum(col("c12")).as("c1")),
      c12.groupBy("lang", "w2").agg(sum(col("c12")).as("c2")),
      c12.groupBy("lang").agg(sum(col("c12")).as("tot")))
  }

  def bigramXent(docs: DataFrame, lambda: Double): DataFrame = {
    val BigramModel(bi, c12, c1, c2, tot) = bigramModel(docs)
    val nll = bi
      .join(broadcast(c12), Seq("lang", "w1", "w2"))
      .join(broadcast(c1), Seq("lang", "w1"))
      .join(broadcast(c2), Seq("lang", "w2"))
      .join(broadcast(tot), Seq("lang"))
      .select(col("doc_id"), col("lang"),
        (floor(-log(lit(lambda) * (col("c12").cast("double") / col("c1").cast("double"))
            + lit(1.0 - lambda) * (col("c2").cast("double") / col("tot").cast("double")))
          * 1000000.0 + 0.5) / 1000000.0).cast("decimal(18,6)").as("nll"))
    nll.groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll")).as("nll_sum"))
      .select(col("doc_id"), col("lang"), col("n_bigrams").cast("long").as("n_bigrams"),
        graft.Stable.r4(col("nll_sum").cast("double")
          / col("n_bigrams").cast("double")).as("xent2"))
      .orderBy("doc_id")
  }

  val q123Oracle: String =
    """WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t,
                            len(string_split(text, ' ')) AS n FROM documents),
       bi AS (SELECT doc_id, lang, t[i+1] AS w1, t[i+2] AS w2
              FROM toks, unnest(generate_series(0, n - 2)) AS u(i)
              WHERE n >= 2),
       c12 AS (SELECT lang, w1, w2, COUNT(*) AS c12 FROM bi GROUP BY 1, 2, 3),
       c1 AS (SELECT lang, w1, SUM(c12) AS c1 FROM c12 GROUP BY 1, 2),
       c2 AS (SELECT lang, w2, SUM(c12) AS c2 FROM c12 GROUP BY 1, 2),
       tot AS (SELECT lang, SUM(c12) AS tot FROM c12 GROUP BY 1),
       nll AS (
         SELECT bi.doc_id, bi.lang,
           CAST(floor(-ln(
               CAST(0.7 AS DOUBLE) * (CAST(c12.c12 AS DOUBLE) / CAST(c1.c1 AS DOUBLE))
             + CAST(0.3 AS DOUBLE) * (CAST(c2.c2 AS DOUBLE) / CAST(tot.tot AS DOUBLE)))
             * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6)) AS nll
         FROM bi
         JOIN c12 ON bi.lang = c12.lang AND bi.w1 = c12.w1 AND bi.w2 = c12.w2
         JOIN c1 ON bi.lang = c1.lang AND bi.w1 = c1.w1
         JOIN c2 ON bi.lang = c2.lang AND bi.w2 = c2.w2
         JOIN tot ON bi.lang = tot.lang)
       SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         floor(CAST(SUM(nll) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               * 10000.0 + 0.5) / 10000.0 AS xent2
       FROM nll GROUP BY doc_id, lang ORDER BY doc_id"""

  // ---- q124: k-means cluster assignment (integer-exact Lloyd) ---------------

  /** Embedding-space clustering — the grouping primitive behind corpus
    * topic balancing, SemDeDup-style pruning (q102) and IVF coarse
    * quantizers (q55): k=8 Lloyd iterations ×2 over the embeddings
    * table, then the final assignment. Everything runs in integer
    * MICRO-UNITS: each float dim is quantized once to
    * floor(x·1e6 + 0.5) (exact on doubles, identical in both engines),
    * so distances are exact Long arithmetic, centroid updates are
    * integer sums with one identical-operand double division per
    * component, and the argmin tie-break (dist², then cluster id) is a
    * total order — the whole trajectory is bit-reproducible at any
    * partitioning AND in DuckDB, which is what lets an iterative ML
    * kernel sit under the driver's hash gate (same trick as q105's
    * unrolled PageRank, one level up in state complexity).
    *
    * Scale shape: per round, ONE broadcast crossJoin (k rows) scores all
    * vectors map-side, a min(struct) argmin aggregates per vector
    * (map-side combinable), and the update aggregates (cluster, dim) —
    * k·d rows of driver state (512 values here), bounded by model size,
    * never by corpus size. Init = the k lowest vec_ids (deterministic;
    * production would use k-means‖ sampling — same loop body).
    */
  def q124Kmeans(s: SparkSession, dir: String): DataFrame =
    kmeansAssign(t(s, dir, "embeddings"), k = 8, iters = 2)

  /** Core of q124 over any (vec_id, embedding) frame — spec entry point. */
  def kmeansAssign(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val qv = emb.select(col("vec_id").cast("long").as("vec_id"),
        expr("""transform(cast(embedding as array<double>),
                 x -> cast(floor(x * 1000000.0 + 0.5) as bigint))""").as("q"))
      .persist()
    try {
      // codegen integer squared distance (LongSqDistExpr) — the HOF
      // spelling aggregate(zip_with(...)) computes the same exact fold
      // but interprets its lambdas per element
      val d2 = callQ("graft_sqdist_q", col("q"), col("c"))
      def assign(cents: Seq[(Long, Seq[Long])]): DataFrame = {
        val cdf = cents.toDF("cl", "c")
        qv.crossJoin(broadcast(cdf))
          .withColumn("d2", d2)
          .groupBy("vec_id")
          .agg(min(struct(col("d2"), col("cl"))).as("m"))
          .select(col("vec_id"), col("m.cl").as("cl"), col("m.d2").as("d2"))
      }
      var cents: Seq[(Long, Seq[Long])] = qv.orderBy("vec_id").limit(k).collect()
        .zipWithIndex.map { case (r, i) => (i.toLong, r.getSeq[Long](1)) }.toSeq
      // (The Lloyd loop KEEPS AQE, unlike the descent/CC/walk loops: the
      // update's assign⋈qv join has no explicit strategy hint — its
      // corpus-sized sides are exactly what AQE runtime-sizes — and the
      // r17 A/B measured AQE-off +15 % here (q124 1.55→1.79 s, q140
      // 1.74→2.17 s back-to-back), so the change was reverted.)
      for (_ <- 1 to iters) {
        // centroid update: exact integer sums per (cluster, dim); k·d rows
        // of driver state. Empty clusters drop (same rule both engines).
        cents = assign(cents)
          .join(qv, Seq("vec_id"))
          .select(col("cl"), posexplode(col("q")).as(Seq("pos", "v")))
          .groupBy("cl", "pos")
          .agg(expr("cast(floor(cast(sum(v) as double) / cast(count(1) as double) + 0.5) as bigint)").as("cv"))
          .collect().groupBy(_.getLong(0))
          .map { case (cl, rows) =>
            (cl, rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq) }
          .toSeq.sortBy(_._1)
      }
      assign(cents)
        .select(col("vec_id"), col("cl").cast("long").as("cluster"),
          col("d2").cast("long").as("dist2"))
        .orderBy("vec_id")
    } finally qv.unpersist()
  }

  val q124Oracle: String =
    """WITH e AS (SELECT vec_id,
           list_transform(embedding::DOUBLE[],
             x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS q
         FROM embeddings),
       x AS (SELECT vec_id, i AS pos, q[i] AS v
             FROM e, unnest(generate_series(1, len(q))) AS u(i)),
       c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cl, q
              FROM e ORDER BY vec_id LIMIT 8),
       c0x AS (SELECT cl, i AS pos, q[i] AS v
               FROM c0, unnest(generate_series(1, len(q))) AS u(i)),
       d1 AS (SELECT x.vec_id, c.cl, SUM((x.v - c.v) * (x.v - c.v)) AS d2
              FROM x JOIN c0x c USING (pos) GROUP BY 1, 2),
       a1 AS (SELECT vec_id, cl FROM (
                SELECT vec_id, cl,
                  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
                FROM d1) WHERE rn = 1),
       c1x AS (SELECT a.cl, x.pos,
                 CAST(floor(CAST(SUM(x.v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS v
               FROM a1 a JOIN x USING (vec_id) GROUP BY 1, 2),
       d2_ AS (SELECT x.vec_id, c.cl, SUM((x.v - c.v) * (x.v - c.v)) AS d2
               FROM x JOIN c1x c USING (pos) GROUP BY 1, 2),
       a2 AS (SELECT vec_id, cl FROM (
                SELECT vec_id, cl,
                  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
                FROM d2_) WHERE rn = 1),
       c2x AS (SELECT a.cl, x.pos,
                 CAST(floor(CAST(SUM(x.v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS v
               FROM a2 a JOIN x USING (vec_id) GROUP BY 1, 2),
       d3 AS (SELECT x.vec_id, c.cl, SUM((x.v - c.v) * (x.v - c.v)) AS d2
              FROM x JOIN c2x c USING (pos) GROUP BY 1, 2)
       SELECT vec_id, CAST(cl AS BIGINT) AS cluster, CAST(d2 AS BIGINT) AS dist2
       FROM (SELECT vec_id, cl, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
             FROM d3) WHERE rn = 1
       ORDER BY vec_id"""

  // ---- q125: BPE corpus encoding --------------------------------------------

  /** THE tokenization step of an LLM data pipeline: learn a merge table
    * on the corpus ([[graft.ops.Bpe.learnMerges]], the q121 op at 48
    * merges) and encode every document with it, reporting per-doc
    * subword counts, fan-out, and the encoded text itself. Deterministic
    * end to end (exact integer pair counts, total-order argmax, and a
    * replay-in-rank-order encoder), so the committed sf0.01 fixture is
    * the oracle, like q121.
    *
    * Scale shape: learning is vocabulary-bounded (q121's contract); the
    * encode pass is a pure map over documents with the merge table
    * broadcast (48 rows here; ~30k for a production tokenizer — always
    * model-sized, never corpus-sized) and a per-row word memo, so
    * repeated words inside a document encode once. The production
    * refinement — encode the DISTINCT word table once and dictionary-join
    * it back — reuses the same kernel on the same bounded table; the
    * per-row memo is its map-side degenerate case.
    */
  def q125BpeEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    bpeEncodeDocs(docs,
      graft.ops.Bpe.learnMergesCached(docs, "text", nMerges = 48, corpusKey = dir))
  }

  /** Core of q125: encode `docs.text` with a learned merge table. */
  def bpeEncodeDocs(docs: DataFrame, merges: Seq[graft.ops.Bpe.Merge]): DataFrame = {
    val spark = docs.sparkSession
    val pairs = merges.sortBy(_.rank).map(m => (m.left, m.right)).toArray
    val pb = spark.sparkContext.broadcast(pairs)
    val enc = udf((ws: Seq[String]) => {
      val memo = scala.collection.mutable.HashMap.empty[String, Array[String]]
      ws.filter(_.nonEmpty)
        .flatMap(w => memo.getOrElseUpdate(w, graft.ops.Bpe.encodeWord(w, pb.value)))
    })
    // n_words counts the NON-empty tokens — the same filter the encoder
    // (and learnMerges) applies, so the fan-out denominator and the
    // lossless bpe_text concatenation agree even under ragged whitespace
    docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("enc", enc(col("ws")))
      .withColumn("nw", expr("size(filter(ws, w -> w != ''))"))
      .select(col("doc_id"),
        col("nw").cast("long").as("n_words"),
        size(col("enc")).cast("long").as("n_subwords"),
        graft.Stable.r4(size(col("enc")).cast("double")
          / col("nw").cast("double")).as("subwords_per_word"),
        array_join(col("enc"), " ").as("bpe_text"))
      .orderBy("doc_id")
  }

  // ---- q126: IDF-weighted Jaccard near-dup pairs ----------------------------

  /** Weighted near-duplicate detection: exact Jaccard (q23) treats every
    * shingle equally, so boilerplate-heavy corpora drown the signal in
    * template shingles. The standard fix weights each shingle by IDF —
    * J_w(A,B) = Σ_{s∈A∩B} idf(s) / Σ_{s∈A∪B} idf(s) — so only CONTENT
    * overlap counts. Weights are integer micro-units
    * (floor(ln((N+1)/(df+1))·1e6 + 0.5), the q117 ln-rounding contract),
    * making every sum exact integer arithmetic; the union weight is
    * W(A)+W(B)−I by inclusion–exclusion, one identical-operand double
    * division at the end.
    *
    * Scale shape: ONE exchange builds the distinct (doc, shingle) table;
    * df reuses that shingle key; the idf table joins back on the same
    * key. The zero-weight prune (idf == 0 ⇔ shingle in every doc) is
    * semantics-preserving — such shingles add 0 to every I and W — and
    * removes exactly the ubiquitous shingles that flood a similarity
    * self-join. At 100 TB the remaining hot shingles get the q23
    * treatment carried to the weighted domain —
    * [[weightedJaccardPairsPruned]] implements the exact-preserving
    * weighted prefix filter (parity-spec'd against this declared form,
    * including on an engineered boilerplate flood). The declared query
    * deliberately stays on THIS unpruned form: an interleaved A/B on the
    * sf0.1 corpus (round 9, identical output verified)
    * measures declared ~2.5 s vs pruned ~7.5 s — without boilerplate
    * flooding, the per-doc heaviest-first sort + prefix cut costs more
    * than the candidates it removes, so the pruned path is the escape
    * hatch for corpora whose self-join actually floods, not a default.
    * The declared form
    * materializes the weighted postings once (localCheckpoint —
    * shuffle-sized local state, the same disk the exchanges use) so
    * df/totals/self-join all read it instead of replaying the corpus
    * scan.
    */
  def q126WeightedJaccard(s: SparkSession, dir: String): DataFrame =
    weightedJaccardPairs(t(s, dir, "documents"), n = 3, tau = 0.3)

  /** Weighted postings (doc_id, s, iw) + per-doc total weight — the
    * shared front half of the declared and prefix-filtered forms. */
  private def weightedPostings(docs: DataFrame, n: Int): (DataFrame, DataFrame) = {
    val sh = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
      .withColumn("nn", size(col("t")))
      .where(col("nn") >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, nn - $n), k -> array_join(slice(t, k + 1, $n), ' '))")).as("s"))
      .distinct()
      .localCheckpoint()
    // N = docs contributing shingles — COUNT(DISTINCT doc_id) over the
    // CHECKPOINTED postings (every doc with ≥ n tokens contributes ≥ 1
    // shingle, so the two counts are equal by construction), riding the
    // idf plan as a broadcast 1-row side instead of a driver-side count
    // over a SECOND full corpus scan+tokenize (round 17, guide §1.2:
    // the postings blocks are already local; re-reading the source text
    // to count it was a whole corpus pass for one integer).
    val ndocsDf = sh.agg(countDistinct(col("doc_id")).as("nd"))
    val dfreq = sh.groupBy("s").agg(count(lit(1)).as("df"))
    val w = dfreq.crossJoin(broadcast(ndocsDf))
      .select(col("s"), expr(
        s"""cast(floor(ln(cast(nd + 1 as double) / cast(df + 1 as double))
             * 1000000.0 + 0.5) as bigint)""").as("iw"))
      .where(col("iw") > 0)
    // the weighted-postings join shuffles on the shingle key (the
    // shingle vocabulary is NOT broadcast-sized at corpus scale) and
    // materializes once for its downstream consumers
    val shw = sh.join(w, "s").select(col("doc_id"), col("s"), col("iw"))
      .localCheckpoint()
    val tw = shw.groupBy("doc_id").agg(sum(col("iw")).as("tw"))
    (shw, tw)
  }

  /** Scoring tail shared by both forms: exact weighted Jaccard by
    * inclusion–exclusion over the (d1, d2, I) intersection weights. */
  private def weightedJaccardTail(inter: DataFrame, tw: DataFrame,
                                  tau: Double): DataFrame =
    inter
      .join(tw.select(col("doc_id").as("d1"), col("tw").as("tw1")), "d1")
      .join(tw.select(col("doc_id").as("d2"), col("tw").as("tw2")), "d2")
      .withColumn("_jw", col("iw").cast("double")
        / (col("tw1") + col("tw2") - col("iw")).cast("double"))
      .where(col("_jw") >= tau)
      .select(col("d1"), col("d2"), graft.Stable.r4(col("_jw")).as("jw"))
      .orderBy("d1", "d2")

  /** Core of q126 over any (doc_id, text) frame — spec entry point. */
  def weightedJaccardPairs(docs: DataFrame, n: Int, tau: Double): DataFrame = {
    val (shw, tw) = weightedPostings(docs, n)
    weightedJaccardFrom(shw, tw, tau)
  }

  private def weightedJaccardFrom(shw: DataFrame, tw: DataFrame,
                                  tau: Double): DataFrame = {
    // Pin the self-join's parallelism: AQE sizes (and coalesces) the
    // join-input exchange by POSTINGS bytes, but this join's OUTPUT is
    // the candidate-pair explosion — orders of magnitude larger than its
    // input on duplicate-heavy corpora — so input-sized coalescing can
    // funnel the whole explosion through a handful of tasks (observed at
    // the 10× blow-up: a 29 s stage on 10 tasks of a 32-core box). An
    // explicit shingle-keyed repartition at the session's configured
    // shuffle parallelism replaces the implicit exchange (same shuffle
    // count — the checkpointed postings have no recognized partitioning)
    // and is exchange-reused across both sides of the self-join.
    val wide = shw.repartition(
      shw.sparkSession.sessionState.conf.numShufflePartitions, col("s"))
    val inter = wide.as("a").join(wide.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"), col("a.iw").as("iw0"))
      .groupBy("d1", "d2").agg(sum(col("iw0")).as("iw"))
    weightedJaccardTail(inter, tw, tau)
  }

  /** Prefix-filtered [[weightedJaccardPairs]] — the 100-TB candidate
    * pruning the q23 operator has, carried to the WEIGHTED domain, with
    * the same output (parity-spec'd; the exact verification stage makes
    * precision 1 and the prefix theorem below makes recall 1).
    *
    * Theorem (weighted prefix filter, both-sides form): fix one global
    * total order over shingles — here (iw DESC, s DESC), heaviest first
    * — and give each doc the minimal ORDER-PREFIX of its postings whose
    * suffix weight is < tau·W(doc). For any pair with J_w ≥ tau,
    * I ≥ tau·(W_A + W_B) − tau·I (definition) ⟹ I ≥ tau·W_A (using
    * W_B ≥ I), so the shared set cannot live entirely in A's suffix
    * (its weight is < tau·W_A); let s* be the globally GREATEST shared
    * shingle — if s* fell in A's suffix every shared shingle would
    * (prefix elements outrank suffix elements), contradiction, so
    * s* ∈ prefix(A) and symmetrically s* ∈ prefix(B): the pair survives
    * a prefix×prefix equi-join on the shingle. Candidates additionally
    * pass the weight-ratio prune tau ≤ W_A/W_B ≤ 1/tau (from
    * tau·W_B ≤ I ≤ W_A and its mirror); the exact I is then recomputed
    * from the FULL postings for candidates only. The prefix cut keeps
    * one micro-unit of slack (suffix ≤ tau·tw − 1 stops the prefix) so
    * double rounding in tau·tw can only ADD prefix elements, never drop
    * a qualifying pair.
    *
    * Scale: candidate generation touches only prefixes — heaviest-first
    * ordering makes them short (cumulative weight crosses the threshold
    * fastest) and RARE (high-idf shingles have few postings), so the
    * equi-join is selective where the unpruned self-join floods on
    * boilerplate-heavy corpora. */
  def weightedJaccardPairsPruned(docs: DataFrame, n: Int, tau: Double): DataFrame = {
    val (shw, tw) = weightedPostings(docs, n)
    weightedJaccardPrunedFrom(shw, tw, tau)
  }

  private def weightedJaccardPrunedFrom(shw: DataFrame, tw: DataFrame,
                                        tau: Double): DataFrame = {
    // per-doc postings sorted heaviest-first under the global order
    val sorted = shw
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("iw"), col("s"))), asc = false).as("ps"))
      .join(tw, "doc_id")
    // minimal prefix with suffix weight < tau·tw (one micro-unit slack,
    // conservative); per-row primitive loop over the ≤|doc| postings
    val prefixUdf = udf((ps: Seq[org.apache.spark.sql.Row], tw: Long) => {
      val cut = tau * tw - 1.0 // suffix ≤ cut ⟹ stop extending
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var suffix = tw
      var i = 0
      while (i < ps.length && suffix > cut) {
        suffix -= ps(i).getLong(0)
        out += ps(i).getString(1)
        i += 1
      }
      out.toSeq
    })
    // same explosion-vs-input hazard as the unpruned self-join (see
    // weightedJaccardFrom): pin the prefix join's parallelism so AQE's
    // input-byte coalescing cannot funnel the candidate explosion
    // through a handful of tasks
    val prefix = sorted
      .select(col("doc_id"), col("tw"),
        explode(prefixUdf(col("ps"), col("tw"))).as("s"))
      .repartition(shw.sparkSession.sessionState.conf.numShufflePartitions, col("s"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          // keep iff tau·W_B ≤ W_A and mirror, with one micro-unit of
          // slack so double rounding in tau·tw stays conservative
          col("a.tw") >= col("b.tw") * tau - 1.0 &&
          col("b.tw") >= col("a.tw") * tau - 1.0)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
      // the recompute join fans each candidate out by |postings(d1)| —
      // explosion again, so pin its exchange too (the d2-side join's
      // input is the already-big fan-out, which AQE sizes correctly)
      .repartition(shw.sparkSession.sessionState.conf.numShufflePartitions, col("d1"))
    // exact intersection weight, candidates only, from the FULL postings
    val inter = cand
      .join(shw.select(col("doc_id").as("d1"), col("s"), col("iw")), Seq("d1"))
      .join(shw.select(col("doc_id").as("d2"), col("s")), Seq("d2", "s"))
      .groupBy("d1", "d2").agg(sum(col("iw")).as("iw"))
    weightedJaccardTail(inter, tw, tau)
  }

  /** Measured flood signal for [[weightedJaccardPairsAuto]]: the exact
    * candidate-pair mass Σ_s df·(df−1)/2 the unpruned self-join would
    * generate over the WEIGHTED (iw>0) postings, from one shingle-keyed
    * map-side-combinable aggregate. Zero-weight (ubiquitous) shingles
    * are already pruned from the postings, so this measures the
    * boilerplate that survives the idf cut — the flood that actually
    * hits the join. */
  def weightedPairMass(docs: DataFrame, n: Int): (Long, Long) = {
    val (shw, _) = weightedPostings(docs, n)
    pairMassOf(shw)
  }

  private def pairMassOf(shw: DataFrame): (Long, Long) = {
    // pair mass in DOUBLE, saturated to Long.MaxValue on readback: a
    // shingle with df above ~3e9 would overflow c*(c-1) in long
    // arithmetic to a NEGATIVE mass — which would steer the auto-select
    // to the unpruned self-join at exactly the flood scale the signal
    // exists to catch. The signal only feeds a threshold comparison, so
    // double precision (and saturation) is exact enough by construction.
    val row = shw.groupBy("s").agg(count(lit(1)).as("c"))
      .agg(sum(expr("cast(c as double) * (c - 1) / 2")).as("pairs"),
        sum(expr("CASE WHEN c > 0 THEN 1 ELSE 0 END")).as("nsh"))
      .collect()(0)
    val pairs = Option(row.get(0)).map(_.asInstanceOf[Double]).getOrElse(0.0)
    (if (pairs >= Long.MaxValue.toDouble) Long.MaxValue else math.round(pairs),
      Option(row.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  /** Auto-selected weighted Jaccard (round-9 verdict item 7): choose the
    * declared unpruned form or the prefix-filtered form from a MEASURED
    * flood signal instead of asking the caller to know their corpus.
    * The round-9 sf0.1 A/B showed the prefix filter costs
    * more than it saves when nothing floods (2.5 s vs 7.5 s at sf0.1)
    * and the engineered-flood spec shows the opposite when boilerplate
    * survives the idf cut. Both forms are output-identical
    * (parity-spec'd), so auto-selection can never change a result —
    * only its cost.
    *
    * Refined (round 11): the RAW pair mass cannot distinguish a
    * boilerplate flood (false candidates the prefix filter removes)
    * from a TRUE-duplicate flood — byte-identical replicas share every
    * shingle, prefixes included, so nothing is prunable and the
    * filter's extra passes only cost (measured on a 10×-replica
    * sf1-equivalent corpus: pruned 646.7 s vs unpruned 37.7 s, a 17×
    * penalty the old rule would have chosen). The decision now
    * subtracts the mass EXPLAINED by exact-duplicate groups — each
    * exact-dup pair shares its whole posting set, ≈ the average
    * postings/doc — and prefix-filters only when the RESIDUAL
    * (boilerplate-shaped) mass exceeds the linear budget. The
    * exact-dup term costs one md5-keyed count aggregate over the docs
    * (the q21 shape) plus one count of the checkpointed postings, paid
    * only when the raw mass already tripped the budget.
    *
    * Budget calibration (round 11, measured): the sf0.1 corpus carries
    * 253 candidate pairs/doc and the unpruned form wins there 2.5 s vs
    * 9–11 s — the original 64/doc budget tripped on a HEALTHY corpus
    * and would have picked the 4× slower path. Default is now 512/doc:
    * above the measured-healthy 253, below the engineered boilerplate
    * floods (≥1400/doc in the specs) where prefix filtering is the
    * designed win. */
  def weightedJaccardPairsAuto(docs: DataFrame, n: Int, tau: Double,
                               pairsPerDocBudget: Long = 512L): DataFrame = {
    val (shw, tw, pruned) = weightedDecision(docs, n, pairsPerDocBudget)
    if (pruned) weightedJaccardPrunedFrom(shw, tw, tau)
    else weightedJaccardFrom(shw, tw, tau)
  }

  /** ONE home for the auto-select predicate: build the postings (shared
    * with whichever form runs) and compare the measured RESIDUAL pair
    * mass (raw mass minus the part explained by exact-duplicate groups,
    * which no prefix filter can prune) to the linear budget. */
  private def weightedDecision(docs: DataFrame, n: Int,
                               pairsPerDocBudget: Long): (DataFrame, DataFrame, Boolean) = {
    val nDocs = math.max(1L, docs.count())
    val (shw, tw) = weightedPostings(docs, n)
    val (pairs, _) = pairMassOf(shw)
    val budget = pairsPerDocBudget.toDouble * nDocs
    val pruned = pairs.toDouble > budget && {
      // exact-duplicate EXPLAINED pair mass, per md5 group: every
      // byte-identical replica carries the identical posting set, so a
      // group of c docs with np postings each explains exactly
      // C(c,2) × np of the raw mass (round 12, replacing the global
      // avg-postings approximation the ADVICE flagged: a corpus mixing
      // SHORT replicated docs with LONG unique ones over-subtracted and
      // could keep the unpruned form on a genuine boilerplate flood).
      // Double + saturation like pairMassOf — a dup group of 3e9 rows
      // would overflow long pair arithmetic. One extra doc-keyed count
      // + join over the already-built postings, paid only when the raw
      // mass tripped the budget.
      val perDoc = shw.groupBy("doc_id").agg(count(lit(1)).as("np"))
      val row = docs.select(col("doc_id"), md5(col("text")).as("_h"))
        .join(perDoc, Seq("doc_id"), "left")
        .na.fill(0L, Seq("np"))
        .groupBy("_h")
        .agg(count(lit(1)).as("c"), max(col("np")).as("np"))
        .agg(sum(expr(
          "cast(c as double) * (c - 1) / 2 * cast(np as double)")).as("m"))
        .collect()(0)
      val dupMass = Option(row.get(0)).map(_.asInstanceOf[Double]).getOrElse(0.0)
      pairs.toDouble - dupMass > budget
    }
    (shw, tw, pruned)
  }

  /** The [[weightedJaccardPairsAuto]] decision alone (spec surface). */
  def weightedFormIsPruned(docs: DataFrame, n: Int,
                           pairsPerDocBudget: Long = 512L): Boolean =
    weightedDecision(docs, n, pairsPerDocBudget)._3

  val q126Oracle: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t,
                            len(string_split(text, ' ')) AS n FROM documents),
       sh AS (SELECT DISTINCT doc_id, array_to_string(t[k+1 : k+3], ' ') AS s
              FROM toks, unnest(generate_series(0, n - 3)) AS u(k)
              WHERE n >= 3),
       nd AS (SELECT COUNT(DISTINCT doc_id) AS nn FROM sh),
       df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1),
       w AS (SELECT s,
               CAST(floor(ln(CAST((SELECT nn FROM nd) + 1 AS DOUBLE)
                             / CAST(df + 1 AS DOUBLE))
                 * 1000000.0 + 0.5) AS BIGINT) AS iw
             FROM df),
       shw AS (SELECT sh.doc_id, sh.s, w.iw
               FROM sh JOIN w USING (s) WHERE w.iw > 0),
       tw AS (SELECT doc_id, SUM(iw) AS tw FROM shw GROUP BY 1),
       inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, SUM(a.iw) AS iw
                 FROM shw a JOIN shw b ON a.s = b.s AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
       SELECT d1, d2, floor(jw * 10000.0 + 0.5) / 10000.0 AS jw
       FROM (SELECT i.d1, i.d2,
               CAST(i.iw AS DOUBLE) / CAST(t1.tw + t2.tw - i.iw AS DOUBLE) AS jw
             FROM inter i
             JOIN tw t1 ON i.d1 = t1.doc_id
             JOIN tw t2 ON i.d2 = t2.doc_id)
       WHERE jw >= 0.3 ORDER BY d1, d2"""

  // ---- q127: per-source dataset card ----------------------------------------

  /** The "dataset card" rollup a curation pipeline publishes per source:
    * document and token volume, mean/median length, exact-duplicate
    * count, and language-mix entropy — the one-row-per-source summary
    * that drives mixture decisions (q118) and flags collapsed or
    * boilerplate sources before training. Numeric discipline: counts and
    * sums are exact integers; the median is the q109 discrete-rank
    * recipe (no interpolation); entropy terms are r6'd DECIMAL(18,6)
    * BEFORE the per-source sum (≤|langs| addends, order-free exact, the
    * q117 contract); means divide identical integer operands.
    *
    * Scale shape: one (source, md5) window for dup detection, one
    * per-source length window for the median (both partition-local
    * after their exchange), tiny (source, lang) and (source) aggregates
    * — every intermediate is bounded by sources × langs except the
    * per-doc stream itself, which is touched a constant number of
    * times. Volume totals re-aggregate the (source, lang) rollup
    * instead of running their own corpus-wide pass, so the per-doc
    * stream crosses exactly THREE exchanges — (source,h) dup groups,
    * the median's source window, and the (source,lang) rollup — and the
    * AQE job count (the round-9 driver-box 2.8× was per-job fixed
    * overhead amplified on a contended box, ProfileQ-attributed: no
    * stage exceeds 0.11 s, the wall time is inter-job gaps) drops with
    * the fourth scan.
    */
  def q127DatasetCard(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("source"), col("lang"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ntok"),
        md5(col("text")).as("h"))
    // dup rows = Σ group sizes over groups of ≥2: a map-side-combinable
    // groupBy (count-sized shuffle rows), not a row-preserving window
    // over the corpus stream
    val dup = d
      .groupBy("source", "h").agg(count(lit(1)).as("cnt"))
      .groupBy("source")
      .agg(sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).as("dup_docs"))
    val med = d
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(col("ntok"), col("doc_id"))))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("source")))
      .where(col("rn") === expr("(cnt + 1) div 2"))
      .select(col("source"), col("ntok").as("median_tokens"))
    val langc = d.groupBy("source", "lang")
      .agg(count(lit(1)).as("lc"), sum(col("ntok")).as("ltok"))
    val tot = langc.groupBy("source")
      .agg(sum(col("lc")).as("n_docs"), sum(col("ltok")).as("n_tokens"))
    val ent = langc.join(tot.select(col("source"), col("n_docs")), Seq("source"))
      .select(col("source"),
        (floor(-(col("lc").cast("double") / col("n_docs").cast("double"))
          * log(col("lc").cast("double") / col("n_docs").cast("double"))
          * 1000000.0 + 0.5) / 1000000.0).cast("decimal(18,6)").as("term"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_langs"), sum(col("term")).as("ent_sum"))
    tot.join(dup, Seq("source")).join(med, Seq("source")).join(ent, Seq("source"))
      .select(col("source"), col("n_docs").cast("long").as("n_docs"),
        col("n_tokens").cast("long").as("n_tokens"),
        graft.Stable.r4(col("n_tokens").cast("double")
          / col("n_docs").cast("double")).as("mean_tokens"),
        col("median_tokens"), col("dup_docs").cast("long").as("dup_docs"),
        col("n_langs").cast("long").as("n_langs"),
        graft.Stable.r4(col("ent_sum").cast("double")).as("lang_entropy"))
      .orderBy("source")
  }

  val q127Oracle: String =
    """WITH d AS (SELECT source, lang, doc_id,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
                    md5(text) AS h FROM documents),
       dup AS (SELECT source,
                 SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS dup_docs
               FROM (SELECT source,
                       COUNT(*) OVER (PARTITION BY source, h) AS cnt FROM d)
               GROUP BY 1),
       med AS (SELECT source, ntok AS median_tokens FROM (
                 SELECT source, ntok, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY ntok, doc_id) AS rn,
                   COUNT(*) OVER (PARTITION BY source) AS cnt
                 FROM d) WHERE rn = (cnt + 1) // 2),
       langc AS (SELECT source, lang, COUNT(*) AS lc FROM d GROUP BY 1, 2),
       tot AS (SELECT source, COUNT(*) AS n_docs, SUM(ntok) AS n_tokens
               FROM d GROUP BY 1),
       ent AS (SELECT l.source, COUNT(*) AS n_langs, SUM(term) AS ent_sum
               FROM (SELECT langc.source,
                       CAST(floor(-(CAST(lc AS DOUBLE) / CAST(t.n_docs AS DOUBLE))
                           * ln(CAST(lc AS DOUBLE) / CAST(t.n_docs AS DOUBLE))
                           * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6)) AS term
                     FROM langc JOIN tot t ON langc.source = t.source) l
               GROUP BY 1)
       SELECT t.source, CAST(t.n_docs AS BIGINT) AS n_docs,
         CAST(t.n_tokens AS BIGINT) AS n_tokens,
         floor(CAST(t.n_tokens AS DOUBLE) / CAST(t.n_docs AS DOUBLE)
               * 10000.0 + 0.5) / 10000.0 AS mean_tokens,
         m.median_tokens,
         CAST(dup.dup_docs AS BIGINT) AS dup_docs,
         CAST(e.n_langs AS BIGINT) AS n_langs,
         floor(CAST(e.ent_sum AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS lang_entropy
       FROM tot t
       JOIN dup ON t.source = dup.source
       JOIN med m ON t.source = m.source
       JOIN ent e ON t.source = e.source
       ORDER BY t.source"""

  // ---- q128: MMR diverse top-k selection ------------------------------------

  /** Maximal-Marginal-Relevance selection (Carbonell & Goldstein 1998) —
    * the diversity-aware subset pick a curation pipeline uses when "top
    * k by relevance" would return k near-copies: greedily add the
    * candidate maximizing rel(d) − max_{s∈S} sim(d, s) (λ = 0.5 up to
    * the constant factor). All arithmetic is exact-integer: vectors are
    * micro-unit quantized (q124's contract), rel/sim are Long dot folds,
    * and the per-round argmax breaks ties (score desc, vec_id asc) — a
    * total order, so the greedy trajectory is deterministic at any
    * partitioning and the committed sf0.01 fixture is the oracle.
    * Relevance anchor: the lowest-vec_id embedding (production would
    * pass a query vector; same loop body).
    *
    * Scale shape: k distributed rounds; each scores the pool map-side
    * against the ≤k selected vectors (model-sized literals — broadcast
    * by value) and takes a TakeOrdered(1) argmax. Driver state = the
    * selected set (k×d longs), never pool-sized; the pool is scanned,
    * not collected.
    */
  def q128MmrSelect(s: SparkSession, dir: String): DataFrame =
    mmrSelect(t(s, dir, "embeddings"), "vec_id", "embedding", k = 10)

  /** Core of q128 over any (id, vector) frame — spec entry point. */
  def mmrSelect(emb: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val qv = emb.select(col(idCol).cast("long").as("id"),
        expr(s"""transform(cast($vecCol as array<double>),
                   x -> cast(floor(x * 1000000.0 + 0.5) as bigint))""").as("q"))
      .persist()
    try {
      // anchor = the lowest-id vector; an empty pool yields an empty
      // selection (no crash — the spec'd generic-frame contract)
      val anchor = qv.orderBy("id").take(1).headOption
      var selected = Vector.empty[(Long, Long, Long, Long, Seq[Long])]
      anchor.foreach { a =>
        val qArr: Seq[Long] = a.getSeq[Long](1)
        def dotWith(v: Seq[Long]): org.apache.spark.sql.Column =
          callQ("graft_dot_q", col("q"), typedLit(v))
        val rel = qv.withColumn("rel", dotWith(qArr))
        var exhausted = false
        for (rank <- 1 to k if !exhausted) {
          val pool =
            if (selected.isEmpty) rel.withColumn("maxsim", lit(0L))
            else {
              val sims = selected.map(t => dotWith(t._5))
              rel
                .where(!col("id").isin(selected.map(_._2): _*))
                .withColumn("maxsim",
                  if (sims.size == 1) sims.head else greatest(sims: _*))
            }
          pool
            .withColumn("score", col("rel") - col("maxsim"))
            .orderBy(col("score").desc, col("id"))
            .select(col("id"), col("rel"), col("maxsim"), col("q"))
            .take(1).headOption match {
            case Some(top) =>
              selected :+= ((rank.toLong, top.getLong(0), top.getLong(1),
                top.getLong(2), top.getSeq[Long](3)))
            case None => exhausted = true // pool smaller than k: stop clean
          }
        }
      }
      selected.map(t => (t._1, t._2, t._3, t._4, t._3 - t._4))
        .toDF("rank", "vec_id", "rel", "maxsim", "score")
        .orderBy("rank")
    } finally qv.unpersist()
  }

  // ---- q129: duplicate-span REMOVAL rewrite ---------------------------------

  /** The actuation half of q122: where q122 MEASURES duplicated spans,
    * this rewrites the corpus with them surgically removed (Lee et al.
    * 2022's ExactSubstr dedup — drop every token covered by a window
    * whose content repeats anywhere in the corpus, keep the rest of the
    * document intact). Same window/count machinery as q122; coverage is
    * realized as an exploded (doc, pos) set and the clean text is the
    * order-preserving concatenation of the surviving tokens. Everything
    * is integer/string arithmetic — full hash oracle.
    *
    * Scale shape: the q122 content-keyed exchange, an L-fold bounded
    * explode of the DUPLICATED windows only (not the corpus), one
    * anti-join on (doc, pos), and a per-doc ordered re-assembly
    * (array_sort over collected structs — the shuffle-safe spelling of
    * "in token order"). A doc that loses every token yields an empty
    * string, not a dropped row: corpus cardinality is preserved for the
    * downstream pipeline.
    */
  def q129DedupRewrite(s: SparkSession, dir: String): DataFrame =
    dedupSpanRewrite(t(s, dir, "documents"), L = 16)

  /** Core of q129 over any (doc_id, text) frame — spec entry point. */
  def dedupSpanRewrite(docs: DataFrame, L: Int): DataFrame = {
    val toks = tokenized(docs)
    val covered = dupWindowStarts(toks, L)
      .select(col("doc_id"), explode(expr(s"sequence(k, k + ${L - 1})")).as("pos"))
      .distinct()
    val kept = toks
      .select(col("doc_id"), posexplode(col("t")).as(Seq("pos", "tok")))
      .join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(expr("transform(array_sort(collect_list(struct(pos, tok))), s -> s.tok)"),
          " ").as("clean_text"))
    toks.select(col("doc_id"), col("n"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).cast("long").as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy("doc_id")
  }

  val q129Oracle: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t,
                            len(string_split(text, ' ')) AS n FROM documents),
       w AS (SELECT doc_id, k, array_to_string(t[k+1 : k+16], ' ') AS wt
             FROM toks, unnest(generate_series(0, n - 16)) AS u(k)
             WHERE n >= 16),
       f AS (SELECT doc_id, k, COUNT(*) OVER (PARTITION BY wt) AS f FROM w),
       covered AS (SELECT DISTINCT doc_id, p AS pos
                   FROM (SELECT doc_id, k FROM f WHERE f > 1),
                        unnest(generate_series(k, k + 15)) AS u(p)),
       tokpos AS (SELECT doc_id, i - 1 AS pos, t[i] AS tok
                  FROM toks, unnest(generate_series(1, n)) AS u(i)),
       kept AS (SELECT tp.doc_id, COUNT(*) AS n_kept,
                  string_agg(tp.tok, ' ' ORDER BY tp.pos) AS clean_text
                FROM tokpos tp
                LEFT JOIN covered c ON tp.doc_id = c.doc_id AND tp.pos = c.pos
                WHERE c.doc_id IS NULL
                GROUP BY 1)
       SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_tokens,
         CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
         COALESCE(k.clean_text, '') AS clean_text
       FROM toks t LEFT JOIN kept k ON t.doc_id = k.doc_id
       ORDER BY t.doc_id"""

  // ---- q130: cross-source contamination matrix ------------------------------

  /** Source-pair overlap audit — the corpus-level complement of q94's
    * benchmark decontamination: for every pair of sources, how much
    * 8-gram content do they share? Mirrored/scraped-twice feeds show up
    * as high-overlap pairs before any training run wastes epochs on
    * them. Overlap is symmetric Jaccard over each source's DISTINCT
    * shingle set (inclusion–exclusion union), all-integer until one
    * identical-operand division.
    *
    * Scale shape: ONE exchange builds the distinct (source, shingle)
    * table — already a massive reduction (shingle multiplicity within a
    * source collapses); the self-join fan-out per shingle is C(m, 2)
    * where m = #sources containing it, bounded by the SOURCE count (a
    * catalog-sized constant), never by corpus size — the property that
    * makes this matrix tractable where document-pair joins need LSH.
    * Output is |sources|² rows max: driver-safe at any corpus scale.
    */
  def q130SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val L = 8
    // spread(8) before the 8-gram explode: the heaviest serial-split
    // funnel in the suite (ProfileQ: a 0.6-0.8 s ONE-task stage on a
    // 32-core box) and the one site where the round-11 suite-wide A/B
    // measured a win (1.99 -> 1.69 s; the blanket application REGRESSED
    // 26 other queries because at driver scale the added exchange +
    // per-stage scheduling outweighs the sub-second serial phase - see
    // Tables.spread's doc for the full numbers)
    val sh = Tables.spread(t(s, dir, "documents"), 8)
      .select(col("source"), split(col("text"), " ").as("t"))
      .withColumn("n", size(col("t")))
      .where(col("n") >= L)
      .select(col("source"), explode(expr(
        s"transform(sequence(0, n - $L), k -> array_join(slice(t, k + 1, $L), ' '))")).as("sg"))
      .distinct()
      .localCheckpoint()
    val sz = sh.groupBy("source").agg(count(lit(1)).as("nsh"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.sg") === col("b.sg") && col("a.source") < col("b.source"))
      .select(col("a.source").as("s1"), col("b.source").as("s2"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("shared"))
    inter
      .join(sz.select(col("source").as("s1"), col("nsh").as("n1")), "s1")
      .join(sz.select(col("source").as("s2"), col("nsh").as("n2")), "s2")
      .select(col("s1"), col("s2"), col("shared").cast("long").as("shared"),
        col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        graft.Stable.r4(col("shared").cast("double")
          / (col("n1") + col("n2") - col("shared")).cast("double")).as("overlap"))
      .orderBy("s1", "s2")
  }

  val q130Oracle: String =
    """WITH toks AS (SELECT source, string_split(text, ' ') AS t,
                            len(string_split(text, ' ')) AS n FROM documents),
       sh AS (SELECT DISTINCT source, array_to_string(t[k+1 : k+8], ' ') AS sg
              FROM toks, unnest(generate_series(0, n - 8)) AS u(k)
              WHERE n >= 8),
       sz AS (SELECT source, COUNT(*) AS nsh FROM sh GROUP BY 1),
       inter AS (SELECT a.source AS s1, b.source AS s2, COUNT(*) AS shared
                 FROM sh a JOIN sh b ON a.sg = b.sg AND a.source < b.source
                 GROUP BY 1, 2)
       SELECT i.s1, i.s2, CAST(i.shared AS BIGINT) AS shared,
         CAST(z1.nsh AS BIGINT) AS n1, CAST(z2.nsh AS BIGINT) AS n2,
         floor(CAST(i.shared AS DOUBLE)
               / CAST(z1.nsh + z2.nsh - i.shared AS DOUBLE)
               * 10000.0 + 0.5) / 10000.0 AS overlap
       FROM inter i
       JOIN sz z1 ON i.s1 = z1.source
       JOIN sz z2 ON i.s2 = z2.source
       ORDER BY i.s1, i.s2"""

  // ---- q131: composite multi-signal quality filter --------------------------

  /** The FineWeb-style ensemble gate: no single heuristic decides —
    * each document is ranked WITHIN ITS LANGUAGE on three independent
    * signals and the blend decides. Signals: (1) unigram-LM
    * cross-entropy (q117's scorer — fluency), (2) within-doc 3-gram
    * duplication fraction (q100's repetition axis), (3) length
    * atypicality (distance of the doc's length rank from the middle of
    * its language's distribution). Ranks are row_number fractions
    * (rn−1)/(cnt−1) with doc_id tie-breaks — deterministic total order,
    * exact rational arithmetic, engine-independent (PERCENT_RANK tie
    * semantics never enter). Composite = mean of the three fractions;
    * keep = composite ≤ 0.5 — half the corpus per language survives, by
    * construction of the rank blend.
    *
    * Scale shape: the token stream is shuffled once per signal that
    * needs it (the q117 LM fit; the per-doc gram table), per-doc rows
    * once per rank window (lang-partitioned, never global); every
    * broadcast is vocabulary- or language-sized. The final projection is
    * per-row arithmetic over one row per document.
    */
  def q131QualityBlend(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val toks = docs.select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("tk"))
    val vocab = toks.groupBy("lang", "tk").agg(count(lit(1)).as("cnt"))
    val totals = vocab.groupBy("lang").agg(sum(col("cnt")).as("tot"))
    val xent = toks.join(broadcast(vocab), Seq("lang", "tk"))
      .join(broadcast(totals), Seq("lang"))
      .select(col("doc_id"), col("lang"),
        (floor(-log(col("cnt").cast("double") / col("tot").cast("double"))
          * 1000000.0 + 0.5) / 1000000.0).cast("decimal(18,6)").as("nll"))
      .groupBy("doc_id", "lang")
      .agg(graft.Stable.r4(sum(col("nll")).cast("double")
        / count(lit(1)).cast("double")).as("xent"))
    val rep = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .withColumn("n", size(col("t")))
      .where(col("n") >= 3)
      .select(col("doc_id"), col("n"), explode(expr(
        "transform(sequence(0, n - 3), k -> array_join(slice(t, k + 1, 3), ' '))")).as("g"))
      .groupBy("doc_id")
      .agg(((count(lit(1)) - countDistinct(col("g"))).cast("double")
        / count(lit(1)).cast("double")).as("rawdup"))
      .select(col("doc_id"), graft.Stable.r4(col("rawdup")).as("dup3"))
    val len = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("ntok"))
    def rankFrac(c: String, out: String) = {
      val w = Window.partitionBy("lang").orderBy(col(c), col("doc_id"))
      val cw = Window.partitionBy("lang")
      (df: DataFrame) => df
        .withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(cw))
        .withColumn(out, (col("rn") - 1).cast("double")
          / greatest(col("cnt") - 1, lit(1)).cast("double"))
        .drop("rn", "cnt")
    }
    val joined = xent
      .join(rep, Seq("doc_id"), "left").na.fill(0.0, Seq("dup3"))
      .join(len, Seq("doc_id"))
    val ranked = rankFrac("ntok", "pr_len")(
      rankFrac("dup3", "pr_rep")(rankFrac("xent", "pr_xent")(joined)))
    ranked
      .withColumn("len_dev",
        abs(col("pr_len") - lit(0.5)) * 2.0)
      .withColumn("composite",
        (col("pr_xent") + col("pr_rep") + col("len_dev")) / 3.0)
      .select(col("doc_id"), col("lang"), col("xent"), col("dup3"),
        graft.Stable.r4(col("pr_xent")).as("pr_xent"),
        graft.Stable.r4(col("pr_rep")).as("pr_rep"),
        graft.Stable.r4(col("len_dev")).as("len_dev"),
        graft.Stable.r4(col("composite")).as("composite"),
        (col("composite") <= 0.5).as("keep"))
      .orderBy("doc_id")
  }

  val q131Oracle: String =
    """WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tk
                     FROM documents),
       vocab AS (SELECT lang, tk, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
       totals AS (SELECT lang, SUM(cnt) AS tot FROM vocab GROUP BY 1),
       xent AS (
         SELECT t.doc_id, t.lang,
           floor(CAST(SUM(CAST(floor(-ln(CAST(v.cnt AS DOUBLE) / CAST(s.tot AS DOUBLE))
               * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS xent
         FROM toks t
         JOIN vocab v ON t.lang = v.lang AND t.tk = v.tk
         JOIN totals s ON t.lang = s.lang
         GROUP BY 1, 2),
       tk3 AS (SELECT doc_id, len(string_split(text, ' ')) AS n,
                      string_split(text, ' ') AS t FROM documents),
       rep AS (SELECT doc_id,
                 floor((CAST(COUNT(*) - COUNT(DISTINCT g) AS DOUBLE)
                        / CAST(COUNT(*) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS dup3
               FROM (SELECT doc_id, array_to_string(t[k+1 : k+3], ' ') AS g
                     FROM tk3, unnest(generate_series(0, n - 3)) AS u(k)
                     WHERE n >= 3)
               GROUP BY 1),
       lens AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
                FROM documents),
       joined AS (SELECT x.doc_id, x.lang, x.xent,
                    COALESCE(r.dup3, 0.0) AS dup3, l.ntok
                  FROM xent x
                  LEFT JOIN rep r ON x.doc_id = r.doc_id
                  JOIN lens l ON x.doc_id = l.doc_id),
       ranked AS (
         SELECT doc_id, lang, xent, dup3, ntok,
           CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY xent, doc_id) - 1 AS DOUBLE)
             / CAST(GREATEST(COUNT(*) OVER (PARTITION BY lang) - 1, 1) AS DOUBLE) AS pr_xent,
           CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY dup3, doc_id) - 1 AS DOUBLE)
             / CAST(GREATEST(COUNT(*) OVER (PARTITION BY lang) - 1, 1) AS DOUBLE) AS pr_rep,
           CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY ntok, doc_id) - 1 AS DOUBLE)
             / CAST(GREATEST(COUNT(*) OVER (PARTITION BY lang) - 1, 1) AS DOUBLE) AS pr_len
         FROM joined)
       SELECT doc_id, lang, xent, dup3,
         floor(pr_xent * 10000.0 + 0.5) / 10000.0 AS pr_xent,
         floor(pr_rep * 10000.0 + 0.5) / 10000.0 AS pr_rep,
         floor(abs(pr_len - 0.5) * 2.0 * 10000.0 + 0.5) / 10000.0 AS len_dev,
         floor((pr_xent + pr_rep + abs(pr_len - 0.5) * 2.0) / 3.0
               * 10000.0 + 0.5) / 10000.0 AS composite,
         ((pr_xent + pr_rep + abs(pr_len - 0.5) * 2.0) / 3.0 <= 0.5) AS keep
       FROM ranked ORDER BY doc_id"""

  // ---- q132: held-out LM evaluation (train/score separation) ----------------

  /** The production form q117's scaladoc promises: fit the unigram LM on
    * a TRAIN split and score a held-out TEST split, so the score is a
    * generalization signal rather than a self-fit repetition proxy. The
    * split is the q83/q118 deterministic 16-bit multiplicative-hash
    * recipe (75/25 by doc_id, multiplier 25173 — uncorrelated with both
    * samplers), Laplace (+1) smoothing handles tokens unseen in train —
    * p(tk) = (cnt+1)/(tot+V+1), the +1 bucket standing for UNK — and
    * per-doc OOV counts ride along. DECIMAL(18,6) per-token nll before
    * the order-free sum, one r4 division: the q117 exactness contract.
    *
    * Scale shape: one (lang, token) shuffle fits the train counts; the
    * test stream joins the broadcast LM table LEFT (missing = OOV) and
    * aggregates per doc — the token stream is never re-shuffled on the
    * token key. Test docs in a language with no train rows are dropped
    * by the totals join (deterministic in both engines; at 75/25 over
    * any real corpus the case is vacuous).
    */
  def q132HeldoutLm(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .withColumn("bucket", pmod(col("doc_id") * lit(25173L), lit(65536L)))
    val toks = docs.select(col("doc_id"), col("lang"), col("bucket"),
      explode(split(col("text"), " ")).as("tk"))
    val train = toks.where(col("bucket") < 49152L)
    val cnts = train.groupBy("lang", "tk").agg(count(lit(1)).as("cnt"))
    val stats = cnts.groupBy("lang")
      .agg(sum(col("cnt")).as("tot"), count(lit(1)).as("v"))
    val test = toks.where(col("bucket") >= 49152L)
    test
      .join(broadcast(cnts), Seq("lang", "tk"), "left")
      .join(broadcast(stats), Seq("lang"))
      .select(col("doc_id"), col("lang"),
        when(col("cnt").isNull, 1L).otherwise(0L).as("oov"),
        (floor(-log((coalesce(col("cnt"), lit(0L)) + lit(1L)).cast("double")
            / (col("tot") + col("v") + lit(1L)).cast("double"))
          * 1000000.0 + 0.5) / 1000000.0).cast("decimal(18,6)").as("nll"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tokens"), sum(col("oov")).as("n_oov"),
        sum(col("nll")).as("nll_sum"))
      .select(col("doc_id"), col("lang"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("n_oov").cast("long").as("n_oov"),
        graft.Stable.r4(col("nll_sum").cast("double")
          / col("n_tokens").cast("double")).as("xent"))
      .orderBy("doc_id")
  }

  val q132Oracle: String =
    """WITH d AS (SELECT doc_id, lang, text,
                    (doc_id * 25173) % 65536 AS bucket FROM documents),
       toks AS (SELECT doc_id, lang, bucket,
                  unnest(string_split(text, ' ')) AS tk FROM d),
       cnts AS (SELECT lang, tk, COUNT(*) AS cnt FROM toks
                WHERE bucket < 49152 GROUP BY 1, 2),
       stats AS (SELECT lang, SUM(cnt) AS tot, COUNT(*) AS v
                 FROM cnts GROUP BY 1),
       nll AS (
         SELECT t.doc_id, t.lang,
           CASE WHEN c.cnt IS NULL THEN 1 ELSE 0 END AS oov,
           CAST(floor(-ln(CAST(COALESCE(c.cnt, 0) + 1 AS DOUBLE)
               / CAST(s.tot + s.v + 1 AS DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(18,6)) AS nll
         FROM toks t
         LEFT JOIN cnts c ON t.lang = c.lang AND t.tk = c.tk
         JOIN stats s ON t.lang = s.lang
         WHERE t.bucket >= 49152)
       SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(oov) AS BIGINT) AS n_oov,
         floor(CAST(SUM(nll) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               * 10000.0 + 0.5) / 10000.0 AS xent
       FROM nll GROUP BY doc_id, lang ORDER BY doc_id"""

  // ---- q133: PMI collocation mining -----------------------------------------

  /** Phrase detection (Mikolov et al. 2013's word2phrase step): the
    * top-10 adjacent word pairs per language by pointwise mutual
    * information, PMI = ln(p(w1,w2)/(p(w1)·p(w2))), over the q123
    * bigram/marginal tables with a min-support floor (c12 ≥ 5) that
    * kills the noise tail. Pipelines run this before tokenizer training
    * to fuse collocations into single units. All counts are exact
    * integers; the single ln takes an identical-operand double ratio
    * (c12·T)/(c1·c2) — spelled factor-by-factor so no product overflows
    * at corpus scale — and ranking uses (rounded PMI, w1, w2): a total
    * order on engine-identical values.
    *
    * Scale shape: the ONE (lang,w1,w2) shuffle builds the bigram table
    * (vocab²-bounded, corpus-independent); marginals are aggregates of
    * it; the per-lang top-k is a lang-partitioned window over the
    * SUPPORT-FILTERED table — the [[graft.plans.TopKPerKey]] rank-filter
    * rule picks it up like every other ranking tail.
    */
  def q133PmiCollocations(s: SparkSession, dir: String): DataFrame = {
    val minSupport = 5L
    val topK = 10
    val BigramModel(_, c12, c1, c2, tot) = bigramModel(t(s, dir, "documents"))
    val scored = c12.where(col("c12") >= minSupport)
      .join(broadcast(c1), Seq("lang", "w1"))
      .join(broadcast(c2), Seq("lang", "w2"))
      .join(broadcast(tot), Seq("lang"))
      .withColumn("pmi", graft.Stable.r4(
        log(col("c12").cast("double") / col("c1").cast("double")
          * (col("tot").cast("double") / col("c2").cast("double")))))
    scored
      .withColumn("rn", row_number().over(Window.partitionBy("lang")
        .orderBy(col("pmi").desc, col("w1"), col("w2"))))
      .where(col("rn") <= topK)
      .select(col("lang"), col("rn").cast("long").as("rank"),
        col("w1"), col("w2"), col("c12").cast("long").as("c12"), col("pmi"))
      .orderBy("lang", "rank")
  }

  val q133Oracle: String =
    """WITH toks AS (SELECT lang, string_split(text, ' ') AS t,
                            len(string_split(text, ' ')) AS n FROM documents),
       bi AS (SELECT lang, t[i+1] AS w1, t[i+2] AS w2
              FROM toks, unnest(generate_series(0, n - 2)) AS u(i)
              WHERE n >= 2),
       c12 AS (SELECT lang, w1, w2, COUNT(*) AS c12 FROM bi GROUP BY 1, 2, 3),
       c1 AS (SELECT lang, w1, SUM(c12) AS c1 FROM c12 GROUP BY 1, 2),
       c2 AS (SELECT lang, w2, SUM(c12) AS c2 FROM c12 GROUP BY 1, 2),
       tot AS (SELECT lang, SUM(c12) AS tot FROM c12 GROUP BY 1),
       scored AS (
         SELECT s12.lang, s12.w1, s12.w2, s12.c12,
           floor(ln(CAST(s12.c12 AS DOUBLE) / CAST(c1.c1 AS DOUBLE)
                    * (CAST(tot.tot AS DOUBLE) / CAST(c2.c2 AS DOUBLE)))
                 * 10000.0 + 0.5) / 10000.0 AS pmi
         FROM c12 s12
         JOIN c1 ON s12.lang = c1.lang AND s12.w1 = c1.w1
         JOIN c2 ON s12.lang = c2.lang AND s12.w2 = c2.w2
         JOIN tot ON s12.lang = tot.lang
         WHERE s12.c12 >= 5)
       SELECT lang, CAST(rn AS BIGINT) AS rank, w1, w2,
         CAST(c12 AS BIGINT) AS c12, pmi
       FROM (SELECT lang, w1, w2, c12, pmi,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY pmi DESC, w1, w2) AS rn
             FROM scored)
       WHERE rn <= 10 ORDER BY lang, rank"""

  // ---- q134: deterministic source-interleaved training order ----------------

  /** Training-order materialization: a corpus written in source order
    * trains badly (long same-source runs); true random shuffles aren't
    * reproducible across engines. The deterministic fix every epoch
    * pipeline uses: round-robin interleave — position r for the r-th
    * document of each source, sources rotating within each round — so
    * consecutive training rows cycle through sources and the order is a
    * pure function of (source, within-source hash rank). Within-source
    * order is itself hash-scrambled (the q118 multiplicative recipe,
    * multiplier 11587 — uncorrelated with the samplers) so the
    * interleave does not preserve ingestion order inside a source.
    * All-integer arithmetic; full hash oracle.
    *
    * Scale shape: the global position is NEVER a global window — it is
    * offset(round) + rank-within-round, where rank-within-round is a
    * round-partitioned window and the offsets are a cumulative sum over
    * the per-round COUNT table (≤ max-docs-per-source rows — bounded
    * state, broadcast back). Every window here is partitioned; the only
    * global order is the declared ORDER BY, which at scale is the
    * write-side `repartitionByRange(pos)` exchange.
    */
  def q134InterleaveOrder(s: SparkSession, dir: String): DataFrame = {
    val scramble = pmod(col("doc_id") * lit(11587L), lit(65536L))
    val ranked = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), scramble.as("b"))
      .withColumn("r", row_number().over(
        Window.partitionBy("source").orderBy(col("b"), col("doc_id"))))
      .withColumn("ir", row_number().over(
        Window.partitionBy("r").orderBy(col("source"), col("doc_id"))))
    // per-round sizes → exclusive prefix sums: the bounded offset table
    val offsets = ranked.groupBy("r").agg(count(lit(1)).as("sz"))
      .withColumn("off", coalesce(sum(col("sz")).over(
        Window.orderBy("r").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("r"), col("off"))
    ranked.join(broadcast(offsets), Seq("r"))
      .select((col("off") + col("ir")).cast("long").as("pos"), col("doc_id"),
        col("source"), col("r").cast("long").as("round"))
      .orderBy("pos")
  }

  val q134Oracle: String =
    """WITH d AS (SELECT doc_id, source,
                    (doc_id * 11587) % 65536 AS b FROM documents),
       ranked AS (SELECT doc_id, source, b,
                    ROW_NUMBER() OVER (PARTITION BY source
                                       ORDER BY b, doc_id) AS r
                  FROM d)
       SELECT CAST(ROW_NUMBER() OVER (ORDER BY r, source, doc_id) AS BIGINT) AS pos,
         doc_id, source, CAST(r AS BIGINT) AS round
       FROM ranked ORDER BY pos"""

  // ---- q135: compression-ratio quality signal -------------------------------

  /** The Gopher/RefinedWeb compression filter: highly repetitive or
    * templated text deflates far below typical prose, near-random noise
    * barely deflates at all — the per-document DEFLATE ratio is a cheap,
    * language-agnostic quality band. Ratio = deflate(utf8)/raw bytes
    * (zlib level 6, raw stream), keep-band [0.3, 0.9]. DEFLATE output
    * for a fixed input, level and strategy is deterministic for a given
    * zlib build, and the driver gate replays this JVM — so the committed
    * sf0.01 fixture is the oracle (no SQL engine can spell deflate); the
    * spec pins the semantic ordering (repetitive ≪ prose < noise).
    *
    * Scale shape: pure per-row projection, zero shuffles before the
    * declared sort — the ideal every-byte-once corpus scan. The
    * Deflater is allocated per call with a fixed dictionary-free
    * configuration; production would pool it per partition (same
    * output, fewer allocations).
    */
  def q135CompressionRatio(s: SparkSession, dir: String): DataFrame = {
    // null-safe: null text behaves as empty (0 raw bytes) — empty and
    // null docs KEEP THEIR ROW (null ratio, keep=false) so the signal
    // table preserves corpus cardinality like q129's rewrite does
    val gzLen = udf { (text: String) =>
      val bytes =
        if (text == null) Array.emptyByteArray
        else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val d = new java.util.zip.Deflater(6, true)
      d.setInput(bytes); d.finish()
      val buf = new Array[Byte](math.max(64, bytes.length + 64))
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      d.end()
      total
    }
    t(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .withColumn("raw_bytes", coalesce(octet_length(col("text")), lit(0)).cast("long"))
      .withColumn("gz_bytes", gzLen(col("text")).cast("long"))
      .withColumn("ratio", when(col("raw_bytes") > 0,
        graft.Stable.r4(col("gz_bytes").cast("double")
          / col("raw_bytes").cast("double"))))
      .select(col("doc_id"), col("raw_bytes"), col("gz_bytes"), col("ratio"),
        coalesce(col("ratio") >= 0.3 && col("ratio") <= 0.9, lit(false)).as("keep"))
      .orderBy("doc_id")
  }

  // ---- q136: Zipf-slope corpus diagnostic -----------------------------------

  /** Corpus-health diagnostic: natural language follows Zipf's law
    * (log-freq ≈ α·log-rank + c with α ≈ −1); a synthetic, templated or
    * collapsed corpus shows up as a slope far from −1 or a tiny
    * vocabulary. Per language: rank tokens by frequency (count desc,
    * token asc — total order), take x = ln(rank), y = ln(freq), both
    * r6'd to DECIMAL(18,6), and fit the least-squares slope
    * (nΣxy − ΣxΣy)/(nΣx² − (Σx)²). Every sum is exact DECIMAL
    * arithmetic over identically-rounded terms, so the fit is
    * order-free and engine-exact; the one double division at the end
    * has identical operands in both engines.
    *
    * Scale shape: one (lang, token) count shuffle (the q117 table);
    * ranking is a lang-partitioned window over the VOCABULARY (bounded,
    * not corpus-sized); the fit is a per-lang aggregate of four DECIMAL
    * sums — |langs| rows of output. */
  def q136ZipfSlope(s: SparkSession, dir: String): DataFrame = {
    val freq = t(s, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("tk"))
      .groupBy("lang", "tk").agg(count(lit(1)).as("f"))
    val d6 = "decimal(18,6)"
    val xy = freq
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(col("f").desc, col("tk"))))
      .select(col("lang"),
        (floor(log(col("rk").cast("double")) * 1000000.0 + 0.5) / 1000000.0)
          .cast(d6).as("x"),
        (floor(log(col("f").cast("double")) * 1000000.0 + 0.5) / 1000000.0)
          .cast(d6).as("y"))
    xy.groupBy("lang")
      .agg(count(lit(1)).as("n_vocab"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum((col("x") * col("y")).cast("decimal(38,12)")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,12)")).as("sxx"))
      .select(col("lang"), col("n_vocab").cast("long").as("n_vocab"),
        graft.Stable.r4(
          (col("n_vocab").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
          / (col("n_vocab").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double"))).as("zipf_slope"))
      .orderBy("lang")
  }

  val q136Oracle: String =
    """WITH freq AS (
         SELECT lang, tk, COUNT(*) AS f
         FROM (SELECT lang, unnest(string_split(text, ' ')) AS tk FROM documents)
         GROUP BY 1, 2),
       xy AS (
         SELECT lang,
           CAST(floor(ln(CAST(rk AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0
                AS DECIMAL(18,6)) AS x,
           CAST(floor(ln(CAST(f AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0
                AS DECIMAL(18,6)) AS y
         FROM (SELECT lang, f,
                 ROW_NUMBER() OVER (PARTITION BY lang
                                    ORDER BY f DESC, tk) AS rk
               FROM freq)),
       agg AS (
         SELECT lang, COUNT(*) AS n_vocab, SUM(x) AS sx, SUM(y) AS sy,
           SUM(CAST(x * y AS DECIMAL(38,12))) AS sxy,
           SUM(CAST(x * x AS DECIMAL(38,12))) AS sxx
         FROM xy GROUP BY 1)
       SELECT lang, CAST(n_vocab AS BIGINT) AS n_vocab,
         floor((CAST(n_vocab AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n_vocab AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * 10000.0 + 0.5) / 10000.0 AS zipf_slope
       FROM agg ORDER BY lang"""

  // ---- registry --------------------------------------------------------------

  // ---- q156: signed random projection (Johnson–Lindenstrauss sketch) --------

  /** Project every embedding onto k=8 pseudo-random ±1 directions — the
    * Achlioptas/JL sign-sketch that turns a 64-dim float vector into an
    * 8-value fingerprint whose inner products approximate the originals'
    * (the cheap pre-filter in front of exact cosine at corpus scale, and
    * the primitive under SimHash/LSH bucketing: q35/q36 hash the SIGNS
    * of exactly this projection; this query keeps the magnitudes).
    *
    * Exactness contract (q124's recipe): inputs micro-quantize to
    * BIGINTs (floor(x·1e6 + 0.5)); the sign matrix is the deterministic
    * parity test (i·40503 + j·69621) mod 2^16 < 2^15, a pure integer
    * function of the coordinates; every projection value is then an
    * exact BIGINT sum both engines reproduce bit-identically at any
    * partitioning.
    *
    * Scale shape: ZERO shuffles before the declared sort — the whole
    * k×d multiply runs INSIDE each row as nested higher-order lambdas
    * (transform over output dims, aggregate over input dims), so a
    * trillion-vector corpus streams through map partitions; the sign
    * matrix is never materialized anywhere (each cell recomputes from
    * (i, j)). The posexplode to (vec_id, dim) rows is the declared
    * relational output; a pipeline composing onto the sketch would keep
    * the 8-array form and skip even that. */
  def q156RandomProjection(s: SparkSession, dir: String): DataFrame =
    randomProjection(t(s, dir, "embeddings"), k = 8)

  /** Core of q156 over any (vec_id, embedding) frame — spec/library
    * entry point. */
  def randomProjection(emb: DataFrame, k: Int): DataFrame =
    emb
      .select(col("vec_id"), expr(
        """transform(CAST(embedding AS ARRAY<DOUBLE>),
             x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))""").as("q"))
      .select(col("vec_id"), posexplode(expr(
        s"""transform(sequence(1, $k), j ->
              aggregate(sequence(1, size(q)), 0L, (acc, i) ->
                acc + element_at(q, i) *
                  (CASE WHEN (i * 40503 + j * 69621) % 65536 < 32768
                        THEN 1L ELSE -1L END)))"""))
        .as(Seq("pos0", "proj_micro")))
      .select(col("vec_id"), (col("pos0") + 1).cast("long").as("dim"),
        col("proj_micro"))
      .orderBy("vec_id", "dim")

  /** DuckDB twin: the same integer algebra via lateral generate_series
    * (per-row output dims) + list_transform/list_sum (input fold). */
  val q156Oracle: String =
    """WITH e AS (SELECT vec_id,
           list_transform(embedding::DOUBLE[],
             x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS q
         FROM embeddings),
       p AS (SELECT vec_id, j,
           list_sum(list_transform(generate_series(1, len(q)), i ->
             q[i] * CASE WHEN (i * 40503 + j * 69621) % 65536 < 32768
                         THEN 1 ELSE -1 END)) AS proj
         FROM e, unnest(generate_series(1, 8)) AS u(j))
       SELECT vec_id, CAST(j AS BIGINT) AS dim, CAST(proj AS BIGINT) AS proj_micro
       FROM p ORDER BY vec_id, dim"""

  // ---- q157: exact kNN graph (integer L2, tile kernel + TopKPerKey) ---------

  /** Every vector's exact top-3 nearest neighbors by integer squared L2
    * over the whole corpus — see [[graft.ops.Similarity.knnGraph]] for
    * the kernel (broadcast tiles, per-vector bounded heaps, TopKPerKey
    * cross-tile merge) and the exactness contract (micro-quantized
    * BIGINT distances, (d2, nbr) total order). */
  def q157KnnGraph(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.knnGraph(t(s, dir, "embeddings"),
      "vec_id", "embedding", k = 3)

  /** DuckDB twin: the brute cross-pair spelling of the same integer
    * algebra (the tile kernel exists purely to bound memory — the
    * emitted graph is definitionally the brute result). */
  val q157Oracle: String =
    """WITH e AS (SELECT vec_id,
           list_transform(embedding::DOUBLE[],
             x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS q
         FROM embeddings),
       d AS (SELECT a.vec_id AS vid, b.vec_id AS nbr,
           list_sum(list_transform(generate_series(1, len(a.q)), i ->
             (a.q[i] - b.q[i]) * (a.q[i] - b.q[i]))) AS d2
         FROM e a JOIN e b ON a.vec_id <> b.vec_id),
       r AS (SELECT vid, nbr, d2,
           ROW_NUMBER() OVER (PARTITION BY vid ORDER BY d2, nbr) AS rk
         FROM d)
       SELECT vid, CAST(rk AS BIGINT) AS rk, nbr, CAST(d2 AS BIGINT) AS d2
       FROM r WHERE rk <= 3 ORDER BY vid, rk"""

  // ---- q169: beam-search ANN over the kNN graph -----------------------------

  /** Graph-traversal ANN (the last modern-ANN cell next to LSH/IVF/PQ):
    * greedy beam search over q157's exact kNN graph —
    * [[graft.ops.Similarity.beamSearchAnn]] holds the kernel (a per-query
    * scored LEDGER seeded with the query node; per-round derived-beam
    * adjacency join + ledger anti-join + TopKPerKey cut) and the
    * determinism contract (integer distances, fixed round budget, so the
    * answer is a pure corpus function ⇒ committed-fixture oracle; the
    * recall-vs-brute spec lives in BeamAnnSpec). Same query set and
    * output shape as q24's brute baseline. */
  def q169BeamAnn(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.beamSearchAnn(t(s, dir, "embeddings"),
      "vec_id", "embedding", queryIds = 0L until 10L, k = 5)

  // ---- q170: beam-search ANN for EXTERNAL query vectors ----------------------

  /** The serving half of q169: ANN for query vectors that are NOT corpus
    * members ([[graft.ops.Similarity.beamSearchAnnVectors]] — no
    * self-seed, no self-exclusion, query labels in their own namespace).
    * The declared query derives its external vectors deterministically
    * from the corpus (vectors 0–9 nudged +0.01 off-lattice on dimension
    * qid mod 8, labels 9000+qid), so the answer stays a pure corpus
    * function ⇒ committed-fixture oracle; the recall and
    * label-collision-canary specs live in BeamAnnSpec. */
  def q170BeamAnnVectors(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb
      .where(col("vec_id").cast("long").between(0L, 9L))
      .select((col("vec_id").cast("long") + 9000L).as("qid"),
        expr("transform(CAST(embedding AS ARRAY<DOUBLE>), " +
          "(x, i) -> IF(i = CAST(vec_id AS INT) % 8, x + 0.01, x))").as("qv"))
    graft.ops.Similarity.beamSearchAnnVectors(emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 5)
  }

  // ---- q171: NN-descent approximate kNN graph -------------------------------

  /** q157's graph by SUB-QUADRATIC construction
    * ([[graft.ops.Similarity.knnGraphApprox]], NN-descent): salted-clique
    * init + bounded neighbor-of-neighbor rounds, O(n·iterK²·rounds) work
    * against the exact scan's O(n²·d) — the build that stays feasible at
    * 10⁹ vectors. Same schema and per-edge integer-distance exactness as
    * q157; deterministic end to end (hash init, total-order cuts, fixed
    * rounds) ⇒ committed-fixture oracle; the recall-vs-exact gate lives
    * in KnnGraphApproxSpec. */
  def q171KnnGraphApprox(s: SparkSession, dir: String): DataFrame =
    graft.ops.Similarity.knnGraphApprox(t(s, dir, "embeddings"),
      "vec_id", "embedding", k = 3)

  // ---- q172: beam-search ANN served off a PERSISTED graph -------------------

  /** The build/serve split q169 argues but does not exercise: the kNN
    * graph (q171's approximate build at graphK=8) is built ONCE per
    * corpus, published to parquet through [[graft.ops.ModelStore]]'s
    * atomic-rename protocol, and every later invocation — any JVM —
    * reads the edge table back and only WALKS it
    * ([[graft.ops.Similarity.beamSearchAnnOnGraph]]). Warm plan contains
    * zero graph-construction stages (BeamAnnServeSpec pins the job
    * ledger); output is a pure corpus function either way ⇒
    * committed-fixture oracle. Same query set and output shape as q169. */
  def q172BeamAnnServed(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.ops.Similarity.beamSearchAnnOnGraph(servedGraphFor(s, dir, emb),
      emb, "vec_id", "embedding", queryIds = 0L until 10L, k = 5)
  }

  /** Build-once / read-forever resolution of the served kNN graph. The
    * build is AUTO-selected by corpus size
    * ([[graft.ops.Similarity.knnGraphAuto]]: the exact tile scan at or
    * below the measured n ≈ 8×10⁵ crossover — faster AND exact there —
    * NN-descent above), the ModelStore key embeds the corpus dir and
    * the CONTENT fingerprint (row count + xxhash64 digest of the raw
    * (id, vec) rows, so an in-place same-count rewrite re-keys and
    * refits instead of serving a stale graph cross-process), and the
    * build is staged to a process-unique temp dir and atomically
    * renamed in, so concurrent builders race benignly and a reader
    * only ever sees a complete edge table. Store disabled (env
    * `SPARK_GRAFT_MODEL_DIR=""`) falls back to the inline auto build —
    * correct, just unamortized (and skips the fingerprint job). */
  private[graft] def servedGraphFor(s: SparkSession, dir: String,
                                    emb: DataFrame, k: Int = 8,
                                    tag: String = "knn_graph"): DataFrame = {
    def build(knownCount: Long) = graft.ops.Similarity.knnGraphAuto(
      emb, "vec_id", "embedding", k, knownCount = knownCount)
    if (!graft.ops.ModelStore.enabled) return build(-1L)
    val (n, h) = graft.ops.ModelStore.fingerprint(
      emb.select(col("vec_id"), col("embedding")),
      col("vec_id"), col("embedding"))
    val key = s"$dir|$tag|k=$k|n=$n|h=$h"
    // every store failure degrades to the inline build (unamortized,
    // never failed) and a corrupt persisted dir is dropped so the
    // store heals
    def publishAndRead(dest: graft.ops.ModelStore.Loc): DataFrame = {
      val tmp = graft.ops.ModelStore.staging(dest)
      build(n).write.mode("overwrite").parquet(tmp.spark)
      graft.ops.ModelStore.publish(tmp, dest)
      s.read.parquet(dest.spark)
    }
    graft.ops.ModelStore.dirLoc("graph", key) match {
      case Some(dest) if dest.exists =>
        try s.read.parquet(dest.spark)
        catch { case scala.util.control.NonFatal(_) =>
          graft.ops.ModelStore.drop(dest)
          try publishAndRead(dest)
          catch { case scala.util.control.NonFatal(_) => build(n) }
        }
      case Some(dest) =>
        try publishAndRead(dest)
        catch { case scala.util.control.NonFatal(_) => build(n) }
      case None => build(n)
    }
  }

  // ---- q173: EXTERNAL-vector beam ANN served off the persisted graph --------

  /** The last cell of the serving matrix: q170's external query vectors
    * (caller-label namespace, no self-seed/self-exclusion) walked over
    * the SAME persisted graph q172 serves from
    * ([[graft.ops.Similarity.beamSearchAnnVectorsOnGraph]]) — the full
    * production shape: graph built once offline (q171's sub-quadratic
    * descent), published through ModelStore, and queried with vectors
    * that were never in the corpus. Query derivation is q170's
    * deterministic nudge, so the answer is a pure corpus function ⇒
    * committed-fixture oracle. */
  def q173BeamAnnVectorsServed(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb
      .where(col("vec_id").cast("long").between(0L, 9L))
      .select((col("vec_id").cast("long") + 9000L).as("qid"),
        expr("transform(CAST(embedding AS ARRAY<DOUBLE>), " +
          "(x, i) -> IF(i = CAST(vec_id AS INT) % 8, x + 0.01, x))").as("qv"))
    graft.ops.Similarity.beamSearchAnnVectorsOnGraph(
      servedGraphFor(s, dir, emb), emb, "vec_id", "embedding",
      queries, "qid", "qv", k = 5)
  }

  // ---- q174: incremental kNN-graph insert -----------------------------------

  /** Graph MAINTENANCE — the delta-ingest half of the build/serve story
    * ([[graft.ops.Similarity.knnGraphInsert]], the HNSW insertion recipe
    * as bounded joins): the corpus splits into a BASE (≈11/12 of rows, a
    * SF-parametric modular rule — no counts needed) whose k=3 graph is
    * built once sub-quadratically and published through ModelStore (the
    * q172 protocol, its own fingerprint key), and a DELTA batch that is
    * walk-placed into the persisted graph, exact-scanned against itself,
    * and adoption-merged into the ≤ m·k affected base lists — the base
    * corpus is never rescanned and untouched rows pass through
    * byte-identically. Output is the full post-insert edge table, q157's
    * schema. Deterministic end to end ⇒ committed-fixture oracle; the
    * recall-vs-full-rebuild, improvement-invariant, pass-through and
    * boundedness gates live in KnnGraphInsertSpec. */
  def q174KnnGraphInsert(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val deltaMark = pmod(col("vec_id").cast("long"), lit(12L)) === lit(11L)
    val base = emb.where(!deltaMark)
    val delta = emb.where(deltaMark)
    graft.ops.Similarity.knnGraphInsert(
      servedGraphFor(s, dir, base, k = 3, tag = "knn_graph_base"),
      base, "vec_id", "embedding", delta, "vec_id", "embedding", k = 3)
  }

  // ---- q175: kNN-graph delete with local repair -----------------------------

  /** The retraction verb of the graph lifecycle
    * ([[graft.ops.Similarity.knnGraphDelete]]): a right-to-be-forgotten
    * batch — the same SF-parametric 1-in-12 slice q174 INSERTS, so the
    * two queries are inverse maintenance steps over the same split —
    * is deleted from a full-corpus graph (built sub-quadratically once
    * through ModelStore, its own fingerprint key) and every torn
    * surviving list is repaired through its symmetric 2-hop
    * neighborhood, exact distances, TopK cuts. The delete batch rides
    * the DataFrame overload — no driver-side id materialization; the
    * batch-sized contract (it broadcasts inside the delete) is
    * enforced by shape, not by a collect. Output
    * is the tombstone-free post-delete edge table, q157's schema.
    * Deterministic ⇒ committed-fixture oracle; the repaired-recall,
    * tombstone-free, bounded-touch and determinism gates live in
    * KnnGraphDeleteSpec. */
  def q175KnnGraphDelete(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    // the batch stays a FRAME end to end (round-15 verdict item 5): no
    // driver-side id materialization in the declared plan — the delete
    // overload broadcasts it to the executors directly
    val delIds = emb
      .where(pmod(col("vec_id").cast("long"), lit(12L)) === lit(11L))
      .select(col("vec_id").cast("long").as("vec_id"))
    graft.ops.Similarity.knnGraphDelete(
      servedGraphFor(s, dir, emb, k = 3, tag = "knn_graph_full3"),
      emb, "vec_id", "embedding", delIds, "vec_id", k = 3,
      repairRounds = 4, repairBeam = 48, repairEntries = 64,
      checkpoint = _.localCheckpoint())
  }

  // ---- q177: kNN-graph shard MERGE (index compaction) ------------------------

  /** The index-COMPACTION verb closing the graph lifecycle
    * ([[graft.ops.Similarity.knnGraphMerge]]): the corpus splits into
    * two shards by a SF-parametric modular rule (vec_id parity — no
    * counts needed), each shard's k=3 index is built sub-quadratically
    * ONCE and published through ModelStore (the q172 protocol, one
    * fingerprint key per shard), and the merge folds the two edge
    * tables into one index over the union corpus — NN-descent
    * warm-started from the shard lists, so it converges in fewer rounds
    * than a from-scratch build (3 vs 4) and never recomputes a warm
    * distance. This is the sharded-construction shape at 10⁹ vectors
    * (S independent build jobs, then pairwise folds) and the federation
    * shape (yesterday's index + today's). Output is the merged edge
    * table, q157's schema. Deterministic ⇒ committed-fixture oracle;
    * the recall-vs-exact-union, per-edge exactness, warm-advantage and
    * determinism gates live in KnnGraphMergeSpec. */
  def q177KnnGraphMerge(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val markA = pmod(col("vec_id").cast("long"), lit(2L)) === lit(0L)
    val shardA = emb.where(markA)
    val shardB = emb.where(!markA)
    graft.ops.Similarity.knnGraphMerge(
      servedGraphFor(s, dir, shardA, k = 3, tag = "knn_graph_shard_a"),
      servedGraphFor(s, dir, shardB, k = 3, tag = "knn_graph_shard_b"),
      emb, "vec_id", "embedding", k = 3)
  }

  // ---- q162: nearest-centroid classifier evaluation -------------------------

  /** Embedding-space health check: fit one centroid per LABEL (the
    * supervised analogue of q124's Lloyd update — exact integer means
    * over micro-quantized vectors), assign every vector to its nearest
    * centroid by exact integer L2, and report the full confusion matrix
    * (true label × predicted label × count, with the correct flag). A
    * diagonal-heavy matrix means the embedding space separates the
    * labels — the go/no-go gate before trusting any embedding-based
    * curation step (SemDeDup cells, q140 balancing, q146's probe).
    *
    * Exactness contract: q124's recipe end-to-end — micro-quantized
    * BIGINT vectors, floor(mean + 0.5) integer centroids, exact Long
    * distance folds through the codegen `graft_sqdist_q` kernel,
    * min(struct) argmin with label tie-break.
    *
    * Scale shape: one (label, pos) exchange fits the centroids; the
    * |labels|·d model collects as bounded driver state (the q124/q128
    * pattern) and broadcasts back; assignment is a map-side
    * crossJoin(broadcast(k rows)) + per-vector argmin; the confusion
    * rollup is a |labels|²-bounded aggregate. */
  def q162CentroidEval(s: SparkSession, dir: String): DataFrame =
    centroidEval(t(s, dir, "embeddings"))

  /** Core of q162 over any (vec_id, embedding, label) frame —
    * spec/library entry point. */
  def centroidEval(emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val qv = emb.select(col("vec_id").cast("long").as("vec_id"),
        col("label").cast("long").as("label"),
        expr("""transform(cast(embedding as array<double>),
                 x -> cast(floor(x * 1000000.0 + 0.5) as bigint))""").as("q"))
      .persist()
    try {
      // per-label integer centroids: k·d rows of bounded driver state
      val cents: Seq[(Long, Seq[Long])] = qv
        .select(col("label"), posexplode(col("q")).as(Seq("pos", "v")))
        .groupBy("label", "pos")
        .agg(expr("cast(floor(cast(sum(v) as double) / cast(count(1) as double) + 0.5) as bigint)").as("cv"))
        .collect().groupBy(_.getLong(0))
        .map { case (l, rows) => (l, rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq) }
        .toSeq.sortBy(_._1)
      val cdf = cents.toDF("pred", "c")
      qv.crossJoin(broadcast(cdf))
        .withColumn("d2", callQ("graft_sqdist_q", col("q"), col("c")))
        .groupBy("vec_id", "label")
        .agg(min(struct(col("d2"), col("pred"))).as("m"))
        .groupBy(col("label"), col("m.pred").as("pred"))
        .agg(count(lit(1)).as("n"))
        .select(col("label"), col("pred"), col("n").cast("long").as("n"),
          (col("label") === col("pred")).as("correct"))
        .orderBy("label", "pred")
    } finally qv.unpersist()
  }

  /** DuckDB twin: q124's positional-explode idiom with label-fitted
    * centroids instead of Lloyd rounds. */
  val q162Oracle: String =
    """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
           list_transform(embedding::DOUBLE[],
             x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS q
         FROM embeddings),
       x AS (SELECT vec_id, label, i AS pos, q[i] AS v
             FROM e, unnest(generate_series(1, len(q))) AS u(i)),
       cx AS (SELECT label AS pred, pos,
                CAST(floor(CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS cv
              FROM x GROUP BY 1, 2),
       d AS (SELECT x.vec_id, x.label, c.pred,
               SUM((x.v - c.cv) * (x.v - c.cv)) AS d2
             FROM x JOIN cx c USING (pos) GROUP BY 1, 2, 3),
       a AS (SELECT vec_id, label, pred FROM (
               SELECT vec_id, label, pred,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, pred) AS rn
               FROM d) WHERE rn = 1)
       SELECT label, pred, COUNT(*) AS n, label = pred AS correct
       FROM a GROUP BY label, pred
       ORDER BY label, pred"""

  // ---- q181/q182: unigram-LM (SentencePiece-style) tokenizer -----------------

  /** The OTHER standard subword induction beside BPE
    * ([[graft.ops.Unigram]], the SentencePiece unigram model with hard
    * EM): seed every ≤ 8-code-point substring of the word-frequency
    * table, then four Viterbi-EM rounds re-count pieces along each
    * word's maximum-likelihood segmentation, and the top pieces by
    * (count desc, piece asc) plus the single-character floor survive.
    * The Viterbi compare is exact BigInt arithmetic (∏counts / C^k
    * cross-multiplied), so the whole induction is bit-reproducible at
    * any partitioning and platform — committed-fixture oracle like
    * q121, with UnigramSpec pinning losslessness, cross-parallelism
    * determinism, and local/distributed venue parity. Scale shape:
    * q121's — one corpus pass, rounds over the bounded word table,
    * model-sized driver state. */
  def q181UnigramVocab(s: SparkSession, dir: String): DataFrame =
    graft.ops.Unigram.vocab(t(s, dir, "documents"), "text",
      vocabSize = 96, seedSize = 2000, rounds = 4)
      .orderBy("rank")

  /** Encode the corpus with its own learned unigram vocabulary — the
    * q125 mirror for the unigram model: per-doc word count, piece
    * count, fan-out, and the encoded text (lossless: concatenating a
    * word's pieces restores the word; the segmentation is
    * [[graft.ops.Unigram.segmentWord]]'s exact-integer Viterbi under
    * the final piece counts, memoized per distinct word within a row —
    * the q125 encode discipline, same production refinement note). */
  def q182UnigramEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val vocab = graft.ops.Unigram.learnVocab(docs, "text",
      vocabSize = 96, seedSize = 2000, rounds = 4)
    val counts = vocab.map(p => p.piece -> p.count).toMap
    val total = counts.valuesIterator.map(BigInt(_)).sum
    val spark = docs.sparkSession
    val cb = spark.sparkContext.broadcast(counts)
    val enc = udf((ws: Seq[String]) => {
      val memo = scala.collection.mutable.HashMap.empty[String, Array[String]]
      ws.filter(_.nonEmpty).flatMap(w => memo.getOrElseUpdate(w,
        graft.ops.Unigram.segmentWord(w, cb.value, total)))
    })
    docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("enc", enc(col("ws")))
      .withColumn("nw", expr("size(filter(ws, w -> w != ''))"))
      .select(col("doc_id"),
        col("nw").cast("long").as("n_words"),
        size(col("enc")).cast("long").as("n_pieces"),
        graft.Stable.r4(size(col("enc")).cast("double")
          / col("nw").cast("double")).as("pieces_per_word"),
        array_join(col("enc"), " ").as("unigram_text"))
      .orderBy("doc_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q122_dup_spans" -> (q122DupSpans _),
    "q123_bigram_lm" -> (q123BigramLm _),
    "q124_kmeans" -> (q124Kmeans _),
    "q125_bpe_encode" -> (q125BpeEncode _),
    "q126_weighted_jaccard" -> (q126WeightedJaccard _),
    "q127_dataset_card" -> (q127DatasetCard _),
    "q128_mmr_select" -> (q128MmrSelect _),
    "q129_dedup_span_rewrite" -> (q129DedupRewrite _),
    "q130_source_overlap" -> (q130SourceOverlap _),
    "q131_quality_blend" -> (q131QualityBlend _),
    "q132_heldout_lm" -> (q132HeldoutLm _),
    "q133_pmi_collocations" -> (q133PmiCollocations _),
    "q134_interleave_order" -> (q134InterleaveOrder _),
    "q135_compression_ratio" -> (q135CompressionRatio _),
    "q136_zipf_slope" -> (q136ZipfSlope _),
    "q156_random_projection" -> (q156RandomProjection _),
    "q157_knn_graph" -> (q157KnnGraph _),
    "q162_centroid_eval" -> (q162CentroidEval _),
    "q169_beam_ann" -> (q169BeamAnn _),
    "q170_beam_ann_vectors" -> (q170BeamAnnVectors _),
    "q171_knn_graph_approx" -> (q171KnnGraphApprox _),
    "q172_beam_ann_served" -> (q172BeamAnnServed _),
    "q173_beam_ann_vectors_served" -> (q173BeamAnnVectorsServed _),
    "q174_knn_graph_insert" -> (q174KnnGraphInsert _),
    "q175_knn_graph_delete" -> (q175KnnGraphDelete _),
    "q177_knn_graph_merge" -> (q177KnnGraphMerge _),
    "q181_unigram_vocab" -> (q181UnigramVocab _),
    "q182_unigram_encode" -> (q182UnigramEncode _))

  val oracles: Map[String, String] = Map(
    "q122_dup_spans" -> q122Oracle,
    "q123_bigram_lm" -> q123Oracle,
    "q124_kmeans" -> q124Oracle,
    "q125_bpe_encode" -> DataQueries.fixtureOracle("q125_bpe_encode"),
    "q126_weighted_jaccard" -> q126Oracle,
    "q127_dataset_card" -> q127Oracle,
    "q128_mmr_select" -> DataQueries.fixtureOracle("q128_mmr_select"),
    "q129_dedup_span_rewrite" -> q129Oracle,
    "q130_source_overlap" -> q130Oracle,
    "q131_quality_blend" -> q131Oracle,
    "q132_heldout_lm" -> q132Oracle,
    "q133_pmi_collocations" -> q133Oracle,
    "q134_interleave_order" -> q134Oracle,
    "q135_compression_ratio" -> DataQueries.fixtureOracle("q135_compression_ratio"),
    "q136_zipf_slope" -> q136Oracle,
    "q156_random_projection" -> q156Oracle,
    "q157_knn_graph" -> q157Oracle,
    "q162_centroid_eval" -> q162Oracle,
    "q169_beam_ann" -> DataQueries.fixtureOracle("q169_beam_ann"),
    "q170_beam_ann_vectors" -> DataQueries.fixtureOracle("q170_beam_ann_vectors"),
    "q171_knn_graph_approx" -> DataQueries.fixtureOracle("q171_knn_graph_approx"),
    "q172_beam_ann_served" -> DataQueries.fixtureOracle("q172_beam_ann_served"),
    "q173_beam_ann_vectors_served" ->
      DataQueries.fixtureOracle("q173_beam_ann_vectors_served"),
    "q174_knn_graph_insert" ->
      DataQueries.fixtureOracle("q174_knn_graph_insert"),
    "q175_knn_graph_delete" ->
      DataQueries.fixtureOracle("q175_knn_graph_delete"),
    "q177_knn_graph_merge" ->
      DataQueries.fixtureOracle("q177_knn_graph_merge"),
    "q181_unigram_vocab" -> DataQueries.fixtureOracle("q181_unigram_vocab"),
    "q182_unigram_encode" -> DataQueries.fixtureOracle("q182_unigram_encode"))
}
