package graft.rel

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Declared queries over the LLM-data-pipeline operators (SURVEY B21–B24
  * + driver contract extensions: dedup, near-dup, similarity search,
  * text analysis, multimodal, fingerprinting). Oracle discipline as in
  * [[Queries]]. The MinHash/SimHash/LSH scale paths are registered as
  * no-oracle queries (hash functions are engine-specific); their recall
  * against the exact forms is asserted in the test suite.
  */
object DataQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---- B21 exact dedup ----------------------------------------------------

  def q21DedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactByTextHash(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("text_hash")

  val q21Oracle: String =
    """SELECT md5(lower(text)) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
       FROM documents GROUP BY md5(lower(text)) ORDER BY text_hash"""

  /** Keyed keep-first dedup (the dropDuplicates-at-scale form): earliest
    * event per (user_id, event_type) with a deterministic tie-break. */
  def q22DedupKeyed(s: SparkSession, dir: String): DataFrame =
    Dedup.exactKeepFirst(t(s, dir, "events"),
        Seq("user_id", "event_type"), Seq(col("ts"), col("event_id")))
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"))
      .orderBy("user_id", "event_type")

  val q22Oracle: String =
    """SELECT user_id, event_type, event_id, epoch_ns(ts) // 1000 AS ts_us
       FROM events
       QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
       ORDER BY user_id, event_type"""

  // ---- B22 near-dup: exact n-gram Jaccard (oracle form) --------------------

  def q23DedupNearJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text", n = 3, tau = 0.8)
      .orderBy("d1", "d2")

  val q23Oracle: String =
    """WITH toks AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
         FROM documents),
       sh AS (
         SELECT doc_id, tok || ' ' || lead(tok) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
         FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       dt AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE shingle IS NOT NULL),
       sizes AS (SELECT doc_id, COUNT(*) AS sz FROM dt GROUP BY doc_id),
       pairs AS (
         SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
         FROM dt a JOIN dt b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id)
       SELECT d1, d2, floor((inter * 1.0 / (s1.sz + s2.sz - inter)) * 10000.0 + 0.5) / 10000.0 AS jaccard
       FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
       WHERE inter * 1.0 / (s1.sz + s2.sz - inter) >= 0.8
       ORDER BY d1, d2"""

  // ---- B23 similarity search: brute-force cosine top-k (oracle form) -------

  def q24KnnCosine(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        queryIds = (0L until 10L), k = 5)
      .orderBy("qid", "rn")

  val q24Oracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
       scored AS (
         SELECT qid, e.vec_id AS cand, floor((list_cosine_similarity(qv, v)) * 10000.0 + 0.5) / 10000.0 AS cos
         FROM q JOIN e ON e.vec_id <> q.qid)
       SELECT qid, cand, cos, rn FROM (
         SELECT qid, cand, cos,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cand) AS rn
         FROM scored)
       WHERE rn <= 5 ORDER BY qid, rn"""

  // ---- B24 text analysis ----------------------------------------------------

  def q25TextStats(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.langStats(t(s, dir, "documents")).orderBy("lang")

  val q25Oracle: String =
    """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       floor((CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*)) * 10000.0 + 0.5) / 10000.0 AS avg_tokens,
       COUNT(DISTINCT source) AS n_sources
       FROM documents GROUP BY lang ORDER BY lang"""

  def q28TopTerms(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.topTermsPerLang(t(s, dir, "documents"), k = 5)
      .orderBy("lang", "rn")

  val q28Oracle: String =
    """WITH counts AS (
         SELECT lang, term, COUNT(*) AS freq FROM (
           SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents)
         GROUP BY lang, term)
       SELECT lang, term, freq, rn FROM (
         SELECT lang, term, freq,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY freq DESC, term) AS rn
         FROM counts)
       WHERE rn <= 5 ORDER BY lang, rn"""

  def q29TextQuality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
        TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
        TextAnalysis.avgWordLen(col("text")).as("avg_word_len"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  val q29Oracle: String =
    """WITH base AS (
         SELECT doc_id, text,
           len(string_split(text, ' ')) AS n_tokens,
           floor((CAST(length(text) - length(translate(text,
             '!"#$%&''()*+,-./:;<=>?@[\]^_`{|}~', '')) AS DOUBLE)
             / greatest(length(text), 1)) * 10000.0 + 0.5) / 10000.0 AS punct_ratio,
           floor((CAST(len(list_filter(string_split(lower(text), ' '),
             t -> list_contains(['a','an','the','of','in','on','and','or','to','is','are','was','it'], t))) AS DOUBLE)
             / greatest(len(string_split(text, ' ')), 1)) * 10000.0 + 0.5) / 10000.0 AS stopword_ratio,
           floor((CAST(list_aggregate(list_transform(string_split(text, ' '), w -> length(w)), 'sum') AS DOUBLE)
             / greatest(len(string_split(text, ' ')), 1)) * 10000.0 + 0.5) / 10000.0 AS avg_word_len
         FROM documents)
       SELECT doc_id, n_tokens, punct_ratio, stopword_ratio, avg_word_len,
         floor((CASE WHEN length(text) < 20 THEN 0.0 ELSE
           (1.0 - punct_ratio) * 0.4 +
           CASE WHEN stopword_ratio BETWEEN 0.05 AND 0.6 THEN 0.4 ELSE 0.0 END +
           CASE WHEN n_tokens >= 10 THEN 0.2 ELSE 0.0 END END) * 10000.0 + 0.5) / 10000.0 AS quality
       FROM base ORDER BY doc_id"""

  // ---- A26/A27 fusion parsing as a declared query ---------------------------

  /** The reference's fusion parsers (deal_fusion live semantics +
    * deal_fusion_probability, `utils.py:368-393`) applied to synthesized
    * LLM-output strings — exercising the exact keep-substring and
    * first-float extraction quirks against the SQL oracle. */
  def q30FusionParse(s: SparkSession, dir: String): DataFrame = {
    val probStr = when(col("event_id") % 3 === 0,
        concat(lit("Probability: 0."), lpad((col("event_id") % 97).cast("string"), 2, "0")))
      .when(col("event_id") % 3 === 1,
        concat(lit("confidence score "), (col("event_id") % 10).cast("string"), lit(".")))
      .otherwise(lit("no numeric signal here"))
    val fuseStr = when(col("value") > 10.0, lit("I would keep this answer"))
      .otherwise(lit("better to drop it"))
    t(s, dir, "events")
      .select(col("event_id"),
        graft.exprs.GraftFunctions.call("graft_probability", probStr).as("prob"),
        graft.exprs.GraftFunctions.call("graft_fusion", fuseStr).as("fused"))
      .orderBy("event_id")
  }

  val q30Oracle: String =
    """WITH synth AS (
         SELECT event_id,
           CASE WHEN event_id % 3 = 0 THEN 'Probability: 0.' || lpad(CAST(event_id % 97 AS VARCHAR), 2, '0')
                WHEN event_id % 3 = 1 THEN 'confidence score ' || CAST(event_id % 10 AS VARCHAR) || '.'
                ELSE 'no numeric signal here' END AS ps,
           CASE WHEN value > 10.0 THEN 'I would keep this answer' ELSE 'better to drop it' END AS fs
         FROM events)
       SELECT event_id,
         CASE WHEN regexp_extract(ps, '\d+\.\d+', 0) <> '' THEN CAST(regexp_extract(ps, '\d+\.\d+', 0) AS DOUBLE)
              WHEN regexp_extract(ps, '\d+\.', 0) <> '' THEN CAST(regexp_extract(ps, '\d+\.', 0) AS DOUBLE)
              ELSE 0.0 END AS prob,
         CASE WHEN contains(fs, 'keep') THEN 'keep' ELSE 'discard' END AS fused
       FROM synth ORDER BY event_id"""

  // ---- A16/A17 normalize + EM as a declared query ---------------------------

  /** The reference's answer normalization chain and EM (`utils.py:292-310`)
    * over ASCII document text: punct-strip before article-removal order,
    * whitespace collapse, normalized-equality EM — hash-checked against
    * the SQL re-expression. */
  def q31NormalizeEm(s: SparkSession, dir: String): DataFrame = {
    import graft.exprs.RcFunctions
    val pred = when(col("doc_id") % 2 === 0, concat(lit("The "), col("text"), lit(".")))
      .otherwise(concat(col("text"), lit(" zz")))
    t(s, dir, "documents")
      .select(col("doc_id"),
        md5(RcFunctions.normalizeAnswer(pred)).as("norm_hash"),
        RcFunctions.em(pred, array(col("text"))).as("em"))
      .orderBy("doc_id")
  }

  val q31Oracle: String =
    """WITH synth AS (
         SELECT doc_id, text,
           CASE WHEN doc_id % 2 = 0 THEN 'The ' || text || '.' ELSE text || ' zz' END AS pred
         FROM documents),
       norm AS (
         SELECT doc_id,
           trim(regexp_replace(regexp_replace(translate(lower(pred),
             '!"#$%&''()*+,-./:;<=>?@[\]^_`{|}~', ''), '\b(a|an|the)\b', ' ', 'g'),
             '\s+', ' ', 'g')) AS np,
           trim(regexp_replace(regexp_replace(translate(lower(text),
             '!"#$%&''()*+,-./:;<=>?@[\]^_`{|}~', ''), '\b(a|an|the)\b', ' ', 'g'),
             '\s+', ' ', 'g')) AS nt
         FROM synth)
       SELECT doc_id, md5(np) AS norm_hash,
         CASE WHEN np = nt THEN 1 ELSE 0 END AS em
       FROM norm ORDER BY doc_id"""

  // ---- multimodal plumbing ---------------------------------------------------

  /** Binary media columns + partition-local feature extraction (decode
    * kernel stubbed — see [[Multimodal.MediaKernels]]); the oracle checks
    * the byte-level plumbing (payload size, checksum) end-to-end. */
  def q32MultimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.mediaFromDocuments(s, t(s, dir, "documents"))
    Multimodal.extractFeatures(media).toDF()
      .select(col("media_id"), col("mime"), col("n_bytes"), col("checksum"))
      .orderBy("media_id")
  }

  val q32Oracle: String =
    """SELECT doc_id AS media_id, 'text/plain' AS mime,
       octet_length(CAST(text AS BLOB)) AS n_bytes, md5(text) AS checksum
       FROM documents ORDER BY media_id"""

  // ---- token counting --------------------------------------------------------

  def q33TokenCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_ws_tokens"),
        TextAnalysis.bpeTokenEstimate(col("text")).as("n_bpe_est"),
        size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).as("n_alpha_tokens"))
      .orderBy("doc_id")

  val q33Oracle: String =
    """SELECT doc_id,
       len(string_split(text, ' ')) AS n_ws_tokens,
       CAST(list_aggregate(list_transform(string_split(text, ' '),
         w -> CAST(ceil(length(w) / 4.0) AS BIGINT)), 'sum') AS BIGINT) AS n_bpe_est,
       len(regexp_extract_all(text, '[a-z0-9]+')) AS n_alpha_tokens
       FROM documents ORDER BY doc_id"""

  // ---- scale paths: spec-verified + committed regression fixtures ------------

  /** Committed regression-fixture oracle (the q46 pattern) for the
    * seeded-deterministic sketch/ANN/ML queries: reads back the expected
    * parquet generated by [[graft.tools.MakeAnnFixtures]] at the driver
    * gate's sf0.01. The recall/accuracy specs remain the SF-independent
    * semantic bound; this row is the change detector the ≥τ specs can't
    * be — any drift in hashing, seeding, quantization or tie-breaking
    * flips the driver's hash compare red. SF-pinned by construction:
    * only meaningful against /root/testdata/sf0.01. */
  def fixtureOracle(name: String): String =
    s"SELECT * FROM read_parquet('/root/repo/src/test/resources/annfix/${name}_expected_sf001.parquet')"

  def q34MinhashNearDup(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashCandidates(t(s, dir, "documents"), "doc_id", "text", n = 3, tau = 0.8)
      .orderBy("d1", "d2")

  def q35SimhashNearDup(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
      .orderBy("d1", "d2")

  def q36AnnLsh(s: SparkSession, dir: String): DataFrame =
    // minCos = 0.0 is an explicit opt-in here: the synthetic embeddings
    // are dense-isotropic, every brute-force top-5 neighbor has cos > 0
    // (asserted by the recall spec), so the √2 distance floor halves the
    // scored bucket-pair space at zero recall cost
    Similarity.annTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        queryIds = (0L until 10L), k = 5, minCos = 0.0)
      .orderBy("qid", "rn")

  def q75AnnPq(s: SparkSession, dir: String): DataFrame =
    Similarity.pqTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        queryIds = (0L until 10L), k = 5,
        corpusKey = Some(dir))
      .orderBy("qid", "rn")

  def q76AnnIvfPq(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfPqTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        queryIds = (0L until 10L), k = 5,
        corpusKey = Some(dir))
      .orderBy("qid", "rn")

  def q55AnnIvf(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        queryIds = (0L until 10L), k = 5,
        // serving pattern: quantizer fit once per corpus, reused across
        // query batches (the testdata dirs are immutable)
        corpusKey = Some(dir))
      .orderBy("qid", "rn")

  def q37LangId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextAnalysis.languageIdUdf(col("text")).as("lang_guess"))
      .orderBy("doc_id")

  /** Oracle generated from [[TextAnalysis.LangSignatures]] itself (single
    * source of truth): per-language score = Σ non-overlapping signature
    * counts via replace-count, argmax with greatest-language tie-break —
    * exactly the kernel's semantics. */
  val q37Oracle: String = {
    def q(str: String) = "'" + str.replace("'", "''") + "'"
    val langs = TextAnalysis.LangSignatures.toSeq.sortBy(_._1)
    val scoreExprs = langs.map { case (lang, sigs) =>
      val terms = sigs.map(sg =>
        s"(length(p) - length(replace(p, ${q(sg)}, ''))) // ${sg.length}")
      s"${terms.mkString(" + ")} AS sc_$lang"
    }.mkString(",\n         ")
    val scCols = langs.map { case (lang, _) => s"sc_$lang" }.mkString(", ")
    val tieBreak = langs.reverse.init.map { case (lang, _) =>
      s"WHEN sc_$lang = mx THEN '$lang'"
    }.mkString("\n            ")
    s"""WITH t AS (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS p FROM documents),
       sc AS (SELECT doc_id, lang,
         $scoreExprs
       FROM t),
       g AS (SELECT doc_id, lang, $scCols, greatest($scCols) AS mx FROM sc)
       SELECT doc_id, lang,
         CASE WHEN mx IS NULL OR mx = 0 THEN 'und'
            $tieBreak
            ELSE '${langs.head._1}' END AS lang_guess
       FROM g ORDER BY doc_id"""
  }

  def q38DocFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.fingerprintUdf(split(col("text"), " ")).as("fingerprint"))
      .orderBy("doc_id")

  /** Karp-Rabin fingerprint replicated in SQL: DuckDB HUGEINT holds the
    * 61-bit × 21-bit products exactly, list_reduce folds chars→token hash
    * →document hash in the kernel's exact order (list_prepend supplies the
    * zero seed). unicode() = Java charAt for BMP text; the corpus is BMP
    * (non-BMP surrogate pairs would diverge — documented limit). */
  val q38Oracle: String =
    """WITH toks AS (
         SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       th AS (
         SELECT doc_id,
           list_transform(ts, t ->
             CAST(list_reduce(
               list_prepend(CAST(0 AS HUGEINT),
                 list_transform(string_split_regex(t, ''), c -> CAST(unicode(c) AS HUGEINT))),
               (acc, ch) -> (acc * 131 + ch) % 2305843009213693951) AS HUGEINT)) AS token_hashes
         FROM toks)
       SELECT doc_id,
         CAST(list_reduce(
           list_prepend(CAST(0 AS HUGEINT), token_hashes),
           (acc, t) -> (acc * 1000003 + t + 1) % 2305843009213693951) AS BIGINT) AS fingerprint
       FROM th ORDER BY doc_id"""

  // ---- embedding-cosine near-dup (driver contract dedup flavor) --------------

  /** Near-duplicate pairs by embedding cosine >= tau: brute-force pair
    * scan (oracle-checkable); at scale the identical output comes from the
    * [[graft.ops.Similarity.annTopK]] LSH-bucketed path. */
  def q44DedupEmbedding(s: SparkSession, dir: String): DataFrame =
    Similarity.cosinePairs(t(s, dir, "embeddings"), "vec_id", "embedding", tau = 0.4)
      .orderBy("v1", "v2")

  val q44Oracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
       SELECT a.vec_id AS v1, b.vec_id AS v2,
         floor((list_cosine_similarity(a.v, b.v)) * 10000.0 + 0.5) / 10000.0 AS cos
       FROM e a JOIN e b ON a.vec_id < b.vec_id
       WHERE list_cosine_similarity(a.v, b.v) >= 0.4
       ORDER BY v1, v2"""

  // ---- B30 custom Catalyst expression through the SQL surface ----------------

  /** The [[graft.exprs.NormalizeAnswerExpr]] codegen expression exercised
    * end-to-end through `spark.sql` (function registered via the same
    * injection the `GraftExtensions` entry point uses). */
  def q45CustomExprNormalize(s: SparkSession, dir: String): DataFrame = {
    graft.exprs.GraftFunctions.register(s)
    t(s, dir, "documents").createOrReplaceTempView("graft_docs")
    s.sql(
      """SELECT doc_id, md5(graft_normalize('The ' || text || '!')) AS norm_hash
         FROM graft_docs ORDER BY doc_id""")
  }

  val q45Oracle: String =
    """SELECT doc_id,
       md5(trim(regexp_replace(regexp_replace(translate(lower('The ' || text || '!'),
         '!"#$%&''()*+,-./:;<=>?@[\]^_`{|}~', ''), '\b(a|an|the)\b', ' ', 'g'),
         '\s+', ' ', 'g'))) AS norm_hash
       FROM documents ORDER BY doc_id"""

  // ---- B29 MLlib batch scoring (no-oracle: model internals are
  // engine-specific; spec asserts accuracy + determinism) ----------------------

  def q39MlScore(s: SparkSession, dir: String): DataFrame =
    graft.ml.Retrieval.fitPredictEmbeddings(t(s, dir, "embeddings"))
      .orderBy("vec_id")

  def q42TfidfRetrieval(s: SparkSession, dir: String): DataFrame = {
    // fit-once per corpus (dir is immutable testdata); the declared query
    // measures SCORING — a broadcast query vector against a map-side scan
    val (model, docsTfIdf) = graft.ml.Retrieval.tfIdfFor(t(s, dir, "documents"), dir)
    graft.ml.Retrieval.scoreQuery(s, model, docsTfIdf,
      Seq("spark", "query", "window"), k = 20)
  }

  // ---- B25 flagship: the reference's committed default path ------------------

  /** [Q:rag_eval_pipeline] — entry point 3 of the reference
    * (`run_llm_ours.py:53-55,219-306`): saved per-branch results in →
    * safety re-fusion (A28) → reject override (A29) → confusion (A30) →
    * six risk metrics (A31), one row out. Runs on the committed
    * deterministic fixture (FIXTURES.md §B2, 24 rows covering every
    * fusion/override branch); golden counts AK=3 AD=10 UK=2 UD=9 are
    * additionally asserted in the spec. */
  def q40RagEvalPipeline(s: SparkSession, dir: String): DataFrame = {
    // quality telemetry rides the same job (Dataset.observe — zero extra
    // scans); metrics surface in observedMetrics for any listener
    val results = graft.pipeline.Monitor.instrument(
      s.read.schema(graft.pipeline.Schemas.resultRecord)
        .json("/root/repo/src/test/resources/rag_results.jsonl"))
    graft.pipeline.Stages.evalPipeline(results, "safety")
      .select(graft.Stable.r4(col("risk")).as("risk"),
        graft.Stable.r4(col("overcaution")).as("overcaution"),
        graft.Stable.r4(col("recall")).as("recall"),
        graft.Stable.r4(col("carefulness")).as("carefulness"),
        graft.Stable.r4(col("alignment")).as("alignment"),
        graft.Stable.r4(col("coverage")).as("coverage"),
        col("AK"), col("AD"), col("UK"), col("UD"))
  }

  val q40Oracle: String =
    """WITH src AS (SELECT * FROM read_parquet('/root/repo/src/test/resources/rag_results.parquet')),
       fused AS (
         SELECT label_decision, rag.reject AS rrej,
           CASE WHEN cf_use.pred_decision = cf_quality.pred_decision THEN cf_use.pred_decision
                WHEN cf_use.pred_decision = 'discard' OR cf_quality.pred_decision = 'discard' THEN 'discard'
                ELSE 'keep' END AS pred0
         FROM src),
       ov AS (
         SELECT label_decision,
           CASE WHEN pred0 = 'keep' AND rrej THEN 'discard' ELSE pred0 END AS pred
         FROM fused),
       conf AS (
         SELECT
           CAST(SUM(CASE WHEN label_decision = 'keep' AND pred = 'keep' THEN 1 ELSE 0 END) AS BIGINT) AS AK,
           CAST(SUM(CASE WHEN label_decision = 'keep' AND pred = 'discard' THEN 1 ELSE 0 END) AS BIGINT) AS AD,
           CAST(SUM(CASE WHEN label_decision = 'discard' AND pred = 'keep' THEN 1 ELSE 0 END) AS BIGINT) AS UK,
           CAST(SUM(CASE WHEN label_decision = 'discard' AND pred = 'discard' THEN 1 ELSE 0 END) AS BIGINT) AS UD
         FROM ov)
       SELECT floor((CAST(UK AS DOUBLE) / (AK + UK)) * 10000.0 + 0.5) / 10000.0 AS risk,
         floor((CAST(AD AS DOUBLE) / (UD + AD)) * 10000.0 + 0.5) / 10000.0 AS overcaution,
         floor((CAST(AK AS DOUBLE) / (AK + AD)) * 10000.0 + 0.5) / 10000.0 AS recall,
         floor((CAST(UD AS DOUBLE) / (UK + UD)) * 10000.0 + 0.5) / 10000.0 AS carefulness,
         floor((CAST(AK + UD AS DOUBLE) / (AK + AD + UK + UD)) * 10000.0 + 0.5) / 10000.0 AS alignment,
         floor((CAST(AK + UK AS DOUBLE) / (AK + AD + UK + UD)) * 10000.0 + 0.5) / 10000.0 AS coverage,
         AK, AD, UK, UD
       FROM conf"""

  /** Probability-strategy re-fusion (A27/A28 `run_llm_ours.py:166-187` +
    * quirk 9: tie ⇒ discard): the two branch-confidence completions are
    * synthesized deterministically from the row id (standing in for the
    * stub ChatModel), then parsed with deal_fusion_probability semantics
    * and compared — higher-confidence branch wins. */
  def q41RagEvalProbability(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Stages
    val results = s.read.schema(graft.pipeline.Schemas.resultRecord)
      .json("/root/repo/src/test/resources/rag_results.jsonl")
    val probUse = concat(lit("Probability: 0."),
      lpad((col("id") % 7).cast("string"), 2, "0"))
    val probQuality = concat(lit("probability: 0."),
      lpad((col("id") % 5).cast("string"), 2, "0"))
    val fused = Stages.fuse("probability",
      probUseRaw = Some(probUse), probQualityRaw = Some(probQuality))(results)
    Stages.metrics(Stages.confusion(Stages.rejectOverride(fused)))
      .select(graft.Stable.r4(col("risk")).as("risk"),
        graft.Stable.r4(col("alignment")).as("alignment"),
        graft.Stable.r4(col("coverage")).as("coverage"),
        col("AK"), col("AD"), col("UK"), col("UD"))
  }

  val q41Oracle: String =
    """WITH src AS (SELECT * FROM read_parquet('/root/repo/src/test/resources/rag_results.parquet')),
       parsed AS (
         SELECT label_decision, rag.reject AS rrej,
           cf_use.pred_decision AS du, cf_quality.pred_decision AS dq,
           CAST('0.' || lpad(CAST(id % 7 AS VARCHAR), 2, '0') AS DOUBLE) AS pu,
           CAST('0.' || lpad(CAST(id % 5 AS VARCHAR), 2, '0') AS DOUBLE) AS pq
         FROM src),
       fused AS (
         SELECT label_decision, rrej,
           CASE WHEN du = dq THEN du
                WHEN pu > pq THEN du
                WHEN pu < pq THEN dq
                ELSE 'discard' END AS pred0
         FROM parsed),
       ov AS (
         SELECT label_decision,
           CASE WHEN pred0 = 'keep' AND rrej THEN 'discard' ELSE pred0 END AS pred
         FROM fused),
       conf AS (
         SELECT
           CAST(SUM(CASE WHEN label_decision = 'keep' AND pred = 'keep' THEN 1 ELSE 0 END) AS BIGINT) AS AK,
           CAST(SUM(CASE WHEN label_decision = 'keep' AND pred = 'discard' THEN 1 ELSE 0 END) AS BIGINT) AS AD,
           CAST(SUM(CASE WHEN label_decision = 'discard' AND pred = 'keep' THEN 1 ELSE 0 END) AS BIGINT) AS UK,
           CAST(SUM(CASE WHEN label_decision = 'discard' AND pred = 'discard' THEN 1 ELSE 0 END) AS BIGINT) AS UD
         FROM ov)
       SELECT floor((CAST(UK AS DOUBLE) / (AK + UK)) * 10000.0 + 0.5) / 10000.0 AS risk,
         floor((CAST(AK + UD AS DOUBLE) / (AK + AD + UK + UD)) * 10000.0 + 0.5) / 10000.0 AS alignment,
         floor((CAST(AK + UK AS DOUBLE) / (AK + AD + UK + UD)) * 10000.0 + 0.5) / 10000.0 AS coverage,
         AK, AD, UK, UD
       FROM conf"""

  // ---- entry point 1 end-to-end on the committed QA fixture ------------------

  /** The stub ChatModel is fully deterministic, so entry point 1's output
    * is reproducible byte-for-byte: the committed expected-output fixture
    * (`q46_expected.parquet`, generated by this very pipeline and
    * eyeball-audited) serves as the oracle — the same golden-file
    * discipline as q40's fixture, closing the last reference entry point
    * without a hash-match. Branch-level goldens (keep/discard per fusion
    * case) live in InferenceSpec. */
  def q46RagAnnotateStub(s: SparkSession, dir: String): DataFrame = {
    val samples = s.read.schema(graft.pipeline.Schemas.qaSample)
      .json("/root/repo/src/test/resources/qa_samples.jsonl")
    val model = new graft.pipeline.ChatModel.DeterministicStub(Map(
      "Question:" -> "Answer: apple.\nEvidence: ## Passage-0 ##.",
      "improper use" -> "Answer: apple!\nEvidence: ## Passage-0 ##.",
      "quality of your referred passages" -> "Answer: apple?\nEvidence: ## Passage-1 ##."))
    val cfg = graft.pipeline.Inference.Config(fusionStrategy = "safety")
    val annotated = graft.pipeline.Inference.ragAnnotate(samples, model, cfg)
    graft.pipeline.Inference.inferDecideFuse(annotated, model, cfg)
      .select(col("id"), col("label_decision"), col("pred_decision"),
        col("rag.answer").as("rag_answer"))
      .orderBy("id")
  }

  val q46Oracle: String =
    """SELECT id, label_decision, pred_decision, rag_answer
       FROM read_parquet('/root/repo/src/test/resources/q46_expected.parquet')
       ORDER BY id"""

  /** A25's iteration loop end-to-end with `numIteration = 2`
    * (`run_llm_ours.py:104-137`): the stub model is ITERATION-AWARE — it
    * keys on the branch template AND the number of assistant turns
    * already in the conversation, with per-row variation derived from the
    * first user prompt (the question text), so every loop path actually
    * executes: some rows discard in round 1 and exit early (skipping
    * round-2 LLM cost), the rest re-enter round 2 and split keep/discard
    * there, and the two branches disagree on some rows so safety fusion
    * runs. Fully deterministic → committed expected-output fixture
    * (`q91_expected.parquet`, q46-style golden) is the oracle. */
  def q91IterativeCounterfactual(s: SparkSession, dir: String): DataFrame = {
    val samples = s.read.schema(graft.pipeline.Schemas.qaSample)
      .json("/root/repo/src/test/resources/qa_samples.jsonl")
    val model = new graft.pipeline.ChatModel.Model {
      import graft.pipeline.ChatModel.Message
      private def answer(a: String) = Some(s"Answer: $a.\nEvidence: ## Passage-0 ##.")
      override def complete(batch: Seq[Seq[Message]]): Seq[Option[String]] =
        batch.map { messages =>
          val lastUser = messages.reverseIterator.find(_.role == "user")
            .map(_.content).getOrElse("")
          val firstUser = messages.find(_.role == "user").map(_.content).getOrElse("")
          val round = messages.count(_.role == "assistant") // 1 = first cf round
          if (lastUser.contains("Question:")) answer("apple") // rag turn
          else if (lastUser.contains("improper use")) { // cf_use branch
            if (round <= 1) { if (firstUser.length % 3 == 0) answer("orange") else answer("apple") }
            else { if (firstUser.length % 2 == 0) answer("banana") else answer("apple") }
          } else { // cf_quality branch
            if (round <= 1) { if (firstUser.length % 5 == 0) answer("orange") else answer("apple") }
            else { if (firstUser.length % 7 < 2) answer("banana") else answer("apple") }
          }
        }
    }
    val cfg = graft.pipeline.Inference.Config(
      numIteration = 2, fusionStrategy = "safety")
    val annotated = graft.pipeline.Inference.ragAnnotate(samples, model, cfg)
    graft.pipeline.Inference.inferDecideFuse(annotated, model, cfg)
      .select(col("id"), col("label_decision"),
        col("cf_use.pred_decision").as("use_decision"),
        col("cf_use.answer").as("use_answer"),
        col("cf_quality.pred_decision").as("quality_decision"),
        col("cf_quality.answer").as("quality_answer"),
        col("pred_decision"))
      .orderBy("id")
  }

  val q91Oracle: String =
    """SELECT id, label_decision, use_decision, use_answer,
              quality_decision, quality_answer, pred_decision
       FROM read_parquet('/root/repo/src/test/resources/q91_expected.parquet')
       ORDER BY id"""

  /** Prompt-strategy re-fusion (A26/A28 `run_llm_ours.py:152-164` + the
    * dead-regex live semantics, quirk 1): the fusion completion is
    * synthesized deterministically per row; keep iff it contains the
    * literal substring "keep". Completes oracle coverage of all three
    * fusion strategies (safety=q40, probability=q41, prompt=here). */
  def q59RagEvalPrompt(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Stages
    val results = s.read.schema(graft.pipeline.Schemas.resultRecord)
      .json("/root/repo/src/test/resources/rag_results.jsonl")
    val fusionOut = when(col("id") % 3 === 0, lit("$$ keep $$"))
      .when(col("id") % 3 === 1, lit("I would discard this"))
      .otherwise(lit("keeping it is fine"))
    val fused = Stages.fuse("prompt", fusionLlmOut = Some(fusionOut))(results)
    Stages.metrics(Stages.confusion(Stages.rejectOverride(fused)))
      .select(graft.Stable.r4(col("risk")).as("risk"),
        graft.Stable.r4(col("alignment")).as("alignment"),
        graft.Stable.r4(col("coverage")).as("coverage"),
        col("AK"), col("AD"), col("UK"), col("UD"))
  }

  val q59Oracle: String =
    """WITH src AS (SELECT * FROM read_parquet('/root/repo/src/test/resources/rag_results.parquet')),
       fused AS (
         SELECT label_decision, rag.reject AS rrej,
           CASE WHEN cf_use.pred_decision = cf_quality.pred_decision THEN cf_use.pred_decision
                WHEN contains(CASE WHEN id % 3 = 0 THEN '$$ keep $$'
                                   WHEN id % 3 = 1 THEN 'I would discard this'
                                   ELSE 'keeping it is fine' END, 'keep')
                THEN 'keep' ELSE 'discard' END AS pred0
         FROM src),
       ov AS (
         SELECT label_decision,
           CASE WHEN pred0 = 'keep' AND rrej THEN 'discard' ELSE pred0 END AS pred
         FROM fused),
       conf AS (
         SELECT
           CAST(SUM(CASE WHEN label_decision = 'keep' AND pred = 'keep' THEN 1 ELSE 0 END) AS BIGINT) AS AK,
           CAST(SUM(CASE WHEN label_decision = 'keep' AND pred = 'discard' THEN 1 ELSE 0 END) AS BIGINT) AS AD,
           CAST(SUM(CASE WHEN label_decision = 'discard' AND pred = 'keep' THEN 1 ELSE 0 END) AS BIGINT) AS UK,
           CAST(SUM(CASE WHEN label_decision = 'discard' AND pred = 'discard' THEN 1 ELSE 0 END) AS BIGINT) AS UD
         FROM ov)
       SELECT floor((CAST(UK AS DOUBLE) / (AK + UK)) * 10000.0 + 0.5) / 10000.0 AS risk,
         floor((CAST(AK + UD AS DOUBLE) / (AK + AD + UK + UD)) * 10000.0 + 0.5) / 10000.0 AS alignment,
         floor((CAST(AK + UK AS DOUBLE) / (AK + AD + UK + UD)) * 10000.0 + 0.5) / 10000.0 AS coverage,
         AK, AD, UK, UD
       FROM conf"""

  // ---- entry point 2: annotation reuse as a declared query -------------------

  /** [Q:reuse_annotations] — entry point 2 of the reference (A32,
    * `run_llm_ours.py:217-218,236-241`): skip the LLM annotate stage,
    * equi-join precomputed annotations by id, rebuild the rag conversation
    * prefix, and expand references. Completes the reference's entry-point
    * triad as declared queries (entry 1 = q46, entry 3 = q40). The oracle
    * replays the join + reference expansion + prompt-length arithmetic in
    * SQL over the committed parquet fixture twins, so the equi-join
    * semantics (inner: samples without annotations drop), the
    * extend-not-replace reference expansion (A22), and the rebuilt prompt
    * (template + question + ≤3-passage block + "\nAnswer: " tail) are all
    * hash-checked. */
  def q73ReuseAnnotations(s: SparkSession, dir: String): DataFrame = {
    val samples = s.read.schema(graft.pipeline.Schemas.qaSample)
      .json("/root/repo/src/test/resources/qa_samples.jsonl")
    val annotated = s.read.schema(graft.pipeline.Schemas.resultRecord)
      .json("/root/repo/src/test/resources/rag_results.jsonl")
    val cfg = graft.pipeline.Inference.Config()
    graft.pipeline.Inference.reuseAnnotations(samples, annotated, cfg)
      .select(col("id"), col("label_decision"),
        col("rag.reject").as("rag_reject"),
        col("rag.answer").as("rag_answer"),
        size(col("reference")).as("n_refs"),
        size(col("messages")).as("n_msgs"),
        length(element_at(col("messages"), 1).getField("content")).as("prompt_len"))
      .orderBy("id")
  }

  /** Oracle generated from [[graft.pipeline.Prompts.templates]] itself
    * (single source of truth, like q37Oracle): the prompt length is the
    * template's fixed character count plus the interpolated question and
    * passage-block lengths ("Passage-i" prefix = 9 chars for i < 10,
    * newline-joined), plus the "\nAnswer: " tail. */
  val q73Oracle: String = {
    val tpl = graft.pipeline.Prompts.templates("rag")
    val fixedLen = tpl.length - "{question}".length - "{passage}".length +
      "\nAnswer: ".length
    s"""WITH qa AS (SELECT * FROM read_parquet('/root/repo/src/test/resources/qa_samples.parquet')),
       ann AS (SELECT id, rag, label_decision
               FROM read_parquet('/root/repo/src/test/resources/rag_results.parquet')),
       j AS (SELECT qa.id, qa.question, qa.reference, qa.dense_ctxs,
               ann.rag, ann.label_decision
             FROM qa JOIN ann USING (id)),
       pb AS (SELECT id, list_slice(dense_ctxs, 1, 3) AS p3 FROM j)
       SELECT j.id, j.label_decision,
         j.rag.reject AS rag_reject, j.rag.answer AS rag_answer,
         len(list_distinct(list_concat(j.reference,
           flatten(list_transform(list_filter(j.reference, r -> contains(r, ' or ')),
             r -> string_split(r, ' or ')))))) AS n_refs,
         1 AS n_msgs,
         $fixedLen + length(j.question)
           + CAST(COALESCE(
               list_aggregate(list_transform(pb.p3, x -> length(x)), 'sum')
                 + 9 * len(pb.p3) + (len(pb.p3) - 1),
               0) AS BIGINT) AS prompt_len
       FROM j JOIN pb ON j.id = pb.id
       ORDER BY j.id"""
  }

  // ---- A9/A13-A15 extraction pipeline as a declared query --------------------

  /** `deal_prediction_with_evidence` (the real kernel, via
    * `graft_deal_prediction`) over synthesized
    * LLM-output strings whose shape keeps the extraction on the
    * SQL-expressible main path: no refusal markers, no Answer/Evidence
    * labels, two `##...##` spans — answer = spans deleted + strip,
    * evidence = last span group (utils.py:222-283). The quirky fallback
    * paths (Passage- slices, set dedup) stay golden-tested in
    * ParseKernelsSpec. */
  def q58ParseExtract(s: SparkSession, dir: String): DataFrame = {
    // the doc token is glued to a letter prefix ("x" + tok = one token for
    // the tokenizer) so a vocabulary word that happens to be a single-word
    // refusal marker ("unknown", "sorry", ...) cannot flip reject=true and
    // break the oracle's hardcoded FALSE
    val synth = concat(lit("It is x"), element_at(split(col("text"), " "), 1),
      lit(" indeed. ## span "), (col("doc_id") % 5).cast("string"),
      lit(" ## more ## final "), col("doc_id").cast("string"), lit(" ##"))
    val parsed = graft.exprs.GraftFunctions.call("graft_deal_prediction", synth)
    t(s, dir, "documents")
      .select(col("doc_id"),
        parsed.getField("reject").as("reject"),
        parsed.getField("answer").as("answer"),
        parsed.getField("evidence").as("evidence"))
      .orderBy("doc_id")
  }

  val q58Oracle: String =
    """WITH synth AS (
         SELECT doc_id,
           'It is x' || string_split(text, ' ')[1] || ' indeed. ## span ' ||
           CAST(doc_id % 5 AS VARCHAR) || ' ## more ## final ' ||
           CAST(doc_id AS VARCHAR) || ' ##' AS s
         FROM documents)
       SELECT doc_id, FALSE AS reject,
         trim(regexp_replace(s, '##(.*?)##', '', 'g')) AS answer,
         trim(list_extract(regexp_extract_all(s, '##(.*?)##', 1), -1)) AS evidence
       FROM synth ORDER BY doc_id"""

  // ---- corpus cleaning: scrub + repetition ratio -----------------------------

  /** PII/URL scrubbing and duplicate-3-gram ratio over documents with a
    * synthesized contaminated suffix (the raw corpus has no emails/URLs
    * to scrub). */
  def q61TextScrub(s: SparkSession, dir: String): DataFrame = {
    val contaminated = concat(col("text"),
      lit(" contact bob"), (col("doc_id") % 10).cast("string"),
      lit("@mail.example.org or https://example.org/d/"),
      col("doc_id").cast("string"),
      lit(" ref 1234567"), (col("doc_id") % 100).cast("string"))
    t(s, dir, "documents")
      .select(col("doc_id"),
        md5(TextAnalysis.scrub(contaminated)).as("scrubbed_hash"),
        TextAnalysis.repetitionRatio(col("text"), 3).as("rep3"))
      .orderBy("doc_id")
  }

  val q61Oracle: String =
    """WITH synth AS (
         SELECT doc_id,
           text || ' contact bob' || CAST(doc_id % 10 AS VARCHAR) ||
           '@mail.example.org or https://example.org/d/' || CAST(doc_id AS VARCHAR) ||
           ' ref 1234567' || CAST(doc_id % 100 AS VARCHAR) AS c,
           text
         FROM documents),
       toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM synth),
       sh AS (
         SELECT doc_id,
           COUNT(DISTINCT t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS n_distinct,
           len(any_value(t)) - 2 AS total
         FROM toks, unnest(generate_series(1, len(t)-2)) AS u(i)
         GROUP BY doc_id)
       SELECT s.doc_id,
         md5(regexp_replace(regexp_replace(regexp_replace(s.c,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           'https?://[^\s]+', '<URL>', 'g'),
           '\d{6,}', '<NUM>', 'g')) AS scrubbed_hash,
         CASE WHEN sh.total IS NULL OR sh.total <= 0 THEN 0.0 ELSE
           floor((1.0 - CAST(sh.n_distinct AS DOUBLE) / sh.total) * 10000.0 + 0.5) / 10000.0
         END AS rep3
       FROM synth s LEFT JOIN sh ON s.doc_id = sh.doc_id
       ORDER BY s.doc_id"""

  // ---- sliding windows (batch form) ------------------------------------------

  /** Sliding 1-hour windows every 15 minutes, via the SAME transform the
    * streaming job uses ([[graft.streaming.Events.slidingCounts]] —
    * batch/stream unification like q57; each event lands in 4 overlapping
    * windows); the oracle derives the same window-starts per event via a
    * lateral offset unnest. */
  def q62SlidingWindow(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Events.slidingCounts(t(s, dir, "events"))
      .withColumnRenamed("bucket_s", "win_start_s")
      .orderBy("win_start_s", "event_type")

  val q62Oracle: String =
    """WITH slots AS (
         SELECT event_type,
           CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
             + 900 * CAST(floor(epoch(ts - date_trunc('hour', ts)) / 900) AS BIGINT)
             - 900 * i AS win_start_s
         FROM events, unnest(generate_series(0, 3)) AS u(i))
       SELECT win_start_s, event_type, COUNT(*) AS n_events
       FROM slots
       GROUP BY win_start_s, event_type
       ORDER BY win_start_s, event_type"""

  // ---- A11 n-gram expansion as a declared query ------------------------------

  private val ngramsUdf = udf((toks: Seq[String], n: Int) =>
    graft.text.ParseKernels.ngrams(toks, n))

  /** `Tokens.ngrams` (`utils.py:83-108`, dead in the reference, kept as a
    * text-lib op): all 1..3-grams per document, frequency-counted. */
  def q60Ngrams(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .where(col("doc_id") < 20)
      .select(col("doc_id"), explode(ngramsUdf(split(col("text"), " "), lit(3))).as("gram"))
      .groupBy("doc_id", "gram")
      .agg(count(lit(1)).as("freq"))
      .orderBy("doc_id", "gram")

  val q60Oracle: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 20),
       grams AS (
         SELECT doc_id, unnest(t) AS g FROM toks
         UNION ALL
         SELECT doc_id, t[i] || ' ' || t[i+1] AS g
         FROM toks, unnest(generate_series(1, len(t)-1)) AS u(i)
         UNION ALL
         SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
         FROM toks, unnest(generate_series(1, len(t)-2)) AS u(i))
       SELECT doc_id, g AS gram, COUNT(*) AS freq
       FROM grams GROUP BY doc_id, g ORDER BY doc_id, gram"""

  // ---- B28 batch/stream unification ------------------------------------------

  /** The streaming tumbling-window job ([[graft.streaming.Events]]) run on
    * batch input — the watermark node is a no-op in batch planning, so the
    * ONE transform serves both modes; this query oracle-checks the batch
    * semantics while StreamingSpec proves incremental equivalence. */
  def q57StreamBatchParity(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Events.tumblingCounts(t(s, dir, "events"))
      .orderBy("bucket_s", "event_type")

  val q57Oracle: String =
    """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket_s, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
       FROM events GROUP BY bucket_s, event_type ORDER BY bucket_s, event_type"""

  // ---- registry ---------------------------------------------------------------

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q21_dedup_exact" -> (q21DedupExact _),
    "q22_dedup_keyed" -> (q22DedupKeyed _),
    "q23_dedup_near_jaccard" -> (q23DedupNearJaccard _),
    "q24_knn_cosine" -> (q24KnnCosine _),
    "q25_text_stats" -> (q25TextStats _),
    "q28_top_terms" -> (q28TopTerms _),
    "q29_text_quality" -> (q29TextQuality _),
    "q30_fusion_parse" -> (q30FusionParse _),
    "q31_normalize_em" -> (q31NormalizeEm _),
    "q32_multimodal_features" -> (q32MultimodalFeatures _),
    "q33_token_count" -> (q33TokenCount _),
    "q34_minhash_neardup" -> (q34MinhashNearDup _),
    "q35_simhash_neardup" -> (q35SimhashNearDup _),
    "q36_ann_lsh" -> (q36AnnLsh _),
    "q55_ann_ivf" -> (q55AnnIvf _),
    "q75_ann_pq" -> (q75AnnPq _),
    "q76_ann_ivfpq" -> (q76AnnIvfPq _),
    "q37_lang_id" -> (q37LangId _),
    "q38_doc_fingerprint" -> (q38DocFingerprint _),
    "q39_ml_score" -> (q39MlScore _),
    "q42_tfidf_retrieval" -> (q42TfidfRetrieval _),
    "q40_rag_eval_pipeline" -> (q40RagEvalPipeline _),
    "q41_rag_eval_probability" -> (q41RagEvalProbability _),
    "q44_dedup_embedding" -> (q44DedupEmbedding _),
    "q45_custom_expr_normalize" -> (q45CustomExprNormalize _),
    "q46_rag_annotate_stub" -> (q46RagAnnotateStub _),
    "q57_stream_batch_parity" -> (q57StreamBatchParity _),
    "q58_parse_extract" -> (q58ParseExtract _),
    "q73_reuse_annotations" -> (q73ReuseAnnotations _),
    "q59_rag_eval_prompt" -> (q59RagEvalPrompt _),
    "q60_ngrams" -> (q60Ngrams _),
    "q61_text_scrub" -> (q61TextScrub _),
    "q62_sliding_window" -> (q62SlidingWindow _),
    "q91_iterative_counterfactual" -> (q91IterativeCounterfactual _),
  )

  val oracles: Map[String, String] = Map(
    "q21_dedup_exact" -> q21Oracle,
    "q22_dedup_keyed" -> q22Oracle,
    "q23_dedup_near_jaccard" -> q23Oracle,
    "q24_knn_cosine" -> q24Oracle,
    "q25_text_stats" -> q25Oracle,
    "q28_top_terms" -> q28Oracle,
    "q29_text_quality" -> q29Oracle,
    "q30_fusion_parse" -> q30Oracle,
    "q31_normalize_em" -> q31Oracle,
    "q32_multimodal_features" -> q32Oracle,
    "q33_token_count" -> q33Oracle,
    "q34_minhash_neardup" -> fixtureOracle("q34_minhash_neardup"),
    "q35_simhash_neardup" -> fixtureOracle("q35_simhash_neardup"),
    "q36_ann_lsh" -> fixtureOracle("q36_ann_lsh"),
    "q39_ml_score" -> fixtureOracle("q39_ml_score"),
    "q42_tfidf_retrieval" -> fixtureOracle("q42_tfidf_retrieval"),
    "q55_ann_ivf" -> fixtureOracle("q55_ann_ivf"),
    "q75_ann_pq" -> fixtureOracle("q75_ann_pq"),
    "q76_ann_ivfpq" -> fixtureOracle("q76_ann_ivfpq"),
    "q37_lang_id" -> q37Oracle,
    "q38_doc_fingerprint" -> q38Oracle,
    "q40_rag_eval_pipeline" -> q40Oracle,
    "q41_rag_eval_probability" -> q41Oracle,
    "q44_dedup_embedding" -> q44Oracle,
    "q45_custom_expr_normalize" -> q45Oracle,
    "q46_rag_annotate_stub" -> q46Oracle,
    "q91_iterative_counterfactual" -> q91Oracle,
    "q57_stream_batch_parity" -> q57Oracle,
    "q58_parse_extract" -> q58Oracle,
    "q73_reuse_annotations" -> q73Oracle,
    "q59_rag_eval_prompt" -> q59Oracle,
    "q60_ngrams" -> q60Oracle,
    "q61_text_scrub" -> q61Oracle,
    "q62_sliding_window" -> q62Oracle,
  )
}
