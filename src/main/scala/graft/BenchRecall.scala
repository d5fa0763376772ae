package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Serving-path QUALITY in the bench artifact (round-14 verdict item 8).
  *
  * The declared fixtures pin the served answers byte-for-byte at the
  * gate SF, and the recall specs gate fixed budget points — but neither
  * shows up in the round-over-round artifact the way wall time does, so
  * a quality drift (a beam that silently narrows, a quantizer that
  * degrades) has no trend line. This helper replays the four serving
  * paths at the BENCH SF and scores them against exact ground truth:
  *
  *   - q169 / q172 (in-corpus beam, inline + served): recall@5 vs the
  *     exact integer-L2 top-5 — the same micro-quantized oracle their
  *     specs replay (BeamAnnSpec / BeamAnnServeSpec).
  *   - q173 (external-vector beam over the persisted graph): recall@5
  *     vs the exact integer-L2 top-5 for the SAME deterministically
  *     nudged query vectors (no self-exclusion — the source vector is a
  *     legitimate neighbor, per the q170/q173 contract).
  *   - q76 (IVF-PQ): recall@5 vs brute-force cosine top-5
  *     ([[graft.ops.Similarity.cosineTopK]]), the oracle of the round-8
  *     recall sweep recorded in [[graft.ops.Similarity.ivfPqTopK]]'s doc.
  *
  * Everything here is deterministic (total-order ranking on both sides),
  * so the block is a CONSTANT for a given binary + corpus: any movement
  * between rounds is a code-caused quality change, never jitter. Ground
  * truth is computed as a distributed broadcast-join (10 query rows
  * against the corpus scan) — no driver-side corpus collect, so the
  * block stays cheap at any bench SF. */
object BenchRecall {

  private val QueryIds = 0L until 10L
  private val K = 5

  /** Exact integer-L2 top-k per query over the micro-quantized corpus —
    * `queries` is (qid, qv) with qv ALREADY micro-quantized; ties break
    * by candidate id (the beam family's total order). Self-matches are
    * excluded only when the qid namespace overlaps corpus ids
    * (in-corpus queries); external namespaces keep every candidate. */
  private def exactIntTopK(emb: DataFrame, queries: DataFrame,
                           excludeSelf: Boolean): Map[Long, Set[Long]] = {
    val corpus = emb.select(col("vec_id").cast("long").as("cand"),
      expr("transform(CAST(embedding AS ARRAY<DOUBLE>), " +
        "x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))").as("v"))
    val joined = corpus.join(broadcast(queries),
      if (excludeSelf) col("cand") =!= col("qid") else lit(true))
      .select(col("qid"), col("cand"),
        expr("aggregate(zip_with(qv, v, (a, b) -> (a - b) * (a - b)), " +
          "0L, (acc, x) -> acc + x)").as("d2"))
    graft.plans.TopK.perKey(joined, Seq("qid"),
        Seq(col("d2").asc, col("cand").asc), K)
      .select("qid", "cand").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getLong(1)).toSet
      }
  }

  private def meanRecall(got: Map[Long, Set[Long]],
                         exact: Map[Long, Set[Long]]): Double = {
    val qs = exact.keys.toSeq
    if (qs.isEmpty) return -1.0
    qs.map { q =>
      exact(q).intersect(got.getOrElse(q, Set.empty)).size.toDouble / K
    }.sum / qs.size
  }

  /** (qid → candidate set) from a declared query's result; the beam
    * family names its candidate column `nbr`, the scan family `cand`. */
  private def pairs(df: DataFrame, candCol: String): Map[Long, Set[Long]] =
    df.select(col("qid").cast("long"), col(candCol).cast("long"))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  /** The compact JSON fragment (leading comma included), or "" when any
    * part fails — a recall probe must never take the bench down. */
  def block(spark: SparkSession, sfDir: String): String =
    try {
      val emb = graft.rel.Tables.load(spark, sfDir, "embeddings")
      // in-corpus ground truth: qids 0-9 are corpus members, self excluded
      val inQueries = emb.where(col("vec_id").cast("long").isin(QueryIds: _*))
        .select(col("vec_id").cast("long").as("qid"),
          expr("transform(CAST(embedding AS ARRAY<DOUBLE>), " +
            "x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))").as("qv"))
      val exactIn = exactIntTopK(emb, inQueries, excludeSelf = true)
      // external ground truth: q170/q173's deterministic nudge, same
      // derivation as the declared queries, quantized AFTER the nudge
      val extQueries = emb.where(col("vec_id").cast("long").between(0L, 9L))
        .select((col("vec_id").cast("long") + 9000L).as("qid"),
          expr("transform(transform(CAST(embedding AS ARRAY<DOUBLE>), " +
            "(x, i) -> IF(i = CAST(vec_id AS INT) % 8, x + 0.01, x)), " +
            "x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))").as("qv"))
      val exactExt = exactIntTopK(emb, extQueries, excludeSelf = false)
      // brute cosine ground truth for the quantized-index family
      val exactCos = pairs(graft.ops.Similarity.cosineTopK(
        emb, "vec_id", "embedding", QueryIds, K), "cand")
      // maintained-state serving (round-15 verdict item 8): seed the
      // index WITHOUT a held slice, CDC it back in (insert) and retire
      // another (delete), then walk the post-CDC graph — the quality of
      // the maintenance FOLD gets the same trend line as the one-shot
      // builds. Deterministic end to end (exact build arm at bench n,
      // exact verbs, total-order walk), scored against the exact top-5
      // over the post-CDC corpus.
      val imRecall: Double = {
        val stateDir = java.nio.file.Files
          .createTempDirectory("graft-bench-im").toString
        try {
          val all = emb.select(col("vec_id").cast("long").as("vec_id"),
            col("embedding")).localCheckpoint()
          val held = pmod(col("vec_id"), lit(10L)) === 4L && col("vec_id") >= 10L
          val dels = pmod(col("vec_id"), lit(10L)) === 6L && col("vec_id") >= 10L
          val base = all.where(!held).localCheckpoint()
          val g0 = graft.ops.Similarity.knnGraphAuto(
            base, "vec_id", "embedding", 8)
          graft.streaming.IndexMaintenance.init(stateDir, base, g0)
          graft.streaming.IndexMaintenance.applyBatch(
            all.where(held).select(lit("I").as("op"), col("vec_id"),
              col("embedding")), 0L, stateDir, 8)
          graft.streaming.IndexMaintenance.applyBatch(
            all.where(dels).select(lit("D").as("op"), col("vec_id"),
              lit(null).cast("array<double>").as("embedding")),
            1L, stateDir, 8)
          val (corpus, graph) = graft.streaming.IndexMaintenance
            .readState(spark, stateDir, pin = true)
          val exactPost = exactIntTopK(all.where(!dels), inQueries,
            excludeSelf = true)
          val got = pairs(graft.ops.Similarity.beamSearchAnnOnGraph(
            graph, corpus, "vec_id", "embedding", QueryIds, K), "nbr")
          meanRecall(got, exactPost)
        } finally {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
          }
          rm(new java.io.File(stateDir))
        }
      }
      def r3(v: Double): String = BenchUtil.r3(v)
      val entries = Seq(
        "q169" -> meanRecall(pairs(
          graft.rel.PipelineQueries.q169BeamAnn(spark, sfDir), "nbr"), exactIn),
        "q172" -> meanRecall(pairs(
          graft.rel.PipelineQueries.q172BeamAnnServed(spark, sfDir), "nbr"),
          exactIn),
        "q173" -> meanRecall(pairs(
          graft.rel.PipelineQueries.q173BeamAnnVectorsServed(spark, sfDir),
          "nbr"), exactExt),
        "q76" -> meanRecall(pairs(
          graft.rel.DataQueries.q76AnnIvfPq(spark, sfDir), "cand"), exactCos),
        "im" -> imRecall)
      entries.map { case (n, v) => "\"" + n + "\":" + r3(v) }
        .mkString(""","recall":{""", ",", s""","k":$K}""")
    } catch {
      case scala.util.control.NonFatal(e) =>
        // the probe must never take the bench down, but a silent empty
        // block would hide a broken probe: one diagnostic line
        println(s"RECALL_ERR ${Option(e.getMessage).getOrElse(e.getClass.getName).take(200)}")
        ""
    }
}
