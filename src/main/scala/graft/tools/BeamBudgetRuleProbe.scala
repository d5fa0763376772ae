package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Two-scale recall evidence for the serve-budget-vs-n rule
  * (round-15 verdict item 1 — [[graft.ops.Similarity.beamBudgetFor]]).
  *
  * The r15 lifecycle audit proved the fixed serving defaults decay with
  * corpus size (0.84 recall@5 at n≈10⁶ on (32, 3, 64) where larger
  * budgets read 1.0); the rule now grows the budget per decade above
  * [[graft.ops.Similarity.BeamBudgetRefN]]. This probe is the "done"
  * criterion: at TWO scales — one decade-step-1 corpus and one
  * decade-step-2 corpus above the crossover (descent-built, the arm
  * that carries the 10⁹-vector story) — serve the 10 fixed queries
  * with NO manual budgets (the -1 auto default) and score recall@5
  * against the exact integer-L2 top-5. Gate ≥ 0.95 at both.
  *
  * Corpus/build/serve recipe is [[DescentLifecycle]]'s verbatim
  * (hash-mixed uniform vectors — the structureless worst case; iterK
  * budget recorded; graphs persisted under the work dir keyed by every
  * build parameter so experiments never repay a build).
  *
  * Run: {{{ sbt "runMain graft.tools.BeamBudgetRuleProbe" }}}
  * Knobs: SPARK_GRAFT_BR_NS (comma list, default "200000,1700000"),
  * SPARK_GRAFT_BR_DIM, SPARK_GRAFT_BR_ITERK, SPARK_GRAFT_BR_OUT,
  * SPARK_GRAFT_LC_WORK (shared graph cache). */
object BeamBudgetRuleProbe {

  def main(args: Array[String]): Unit = {
    val ns = sys.env.getOrElse("SPARK_GRAFT_BR_NS", "200000,1700000")
      .split(",").flatMap(_.trim.toLongOption).toSeq
    val dim = sys.env.get("SPARK_GRAFT_BR_DIM").flatMap(_.toIntOption)
      .getOrElse(16)
    val iterK = sys.env.get("SPARK_GRAFT_BR_ITERK").flatMap(_.toIntOption)
      .getOrElse(24)
    val out = sys.env.getOrElse("SPARK_GRAFT_BR_OUT", "beam_budget_rule_r16.json")
    val workDir = sys.env.getOrElse("SPARK_GRAFT_LC_WORK", "/tmp/graft_lc")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val graphK = 8
    val serveK = 5
    val qids = 0L until 10L

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // single-JVM probe posture: DescentLifecycle's broadcast/cleaner/
      // codec notes apply verbatim (the descent's vector-fetch joins
      // broadcast here; hash-partitioned on a real cluster)
      .config("spark.sql.autoBroadcastJoinThreshold", (2048L << 20).toString)
      .config("spark.cleaner.periodicGC.interval", "90s")
      .config("spark.io.compression.codec", "zstd")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def synth(lo: Long, hi: Long): DataFrame =
      spark.range(lo, hi).toDF("vec_id")
        .select(col("vec_id"), expr(
          s"transform(sequence(0, ${dim - 1}), j -> " +
            s"pmod(xxhash64(vec_id * $dim + j), 1000000L) / 1000000.0)")
          .as("embedding"))

    val quantExpr = "transform(CAST(embedding AS ARRAY<DOUBLE>), " +
      "x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))"

    def time[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }

    def exactTop(corpus: DataFrame): Map[Long, Set[Long]] = {
      val queries = corpus.where(col("vec_id").isin(qids: _*))
        .select(col("vec_id").as("qid"), expr(quantExpr).as("qv"))
      val scored = corpus
        .select(col("vec_id").as("cand"), expr(quantExpr).as("v"))
        .join(broadcast(queries), col("cand") =!= col("qid"))
        .select(col("qid"), col("cand"),
          expr("aggregate(zip_with(qv, v, (a, b) -> (a - b) * (a - b)), " +
            "0L, (acc, x) -> acc + x)").as("d2"))
      graft.plans.TopK.perKey(scored, Seq("qid"),
          Seq(col("d2").asc, col("cand").asc), serveK)
        .select("qid", "cand").collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    }

    // merge recipe for shard-built graphs — shared knobs (and shard cache
    // keys) with DescentLifecycle so experiments never repay a build
    val mergeIterK = sys.env.get("SPARK_GRAFT_LC_MERGE_ITERK")
      .flatMap(_.toIntOption).getOrElse(12)
    val mergeRounds = sys.env.get("SPARK_GRAFT_LC_MERGE_ROUNDS")
      .flatMap(_.toIntOption).getOrElse(5)

    def cached(key: String)(build: => DataFrame): (DataFrame, Double) = {
      val dir = new java.io.File(workDir, key)
      val done = new java.io.File(dir, "_SUCCESS")
      val secFile = new java.io.File(workDir, s"$key.sec")
      if (done.exists()) {
        val sec = if (secFile.isFile)
          new String(java.nio.file.Files.readAllBytes(secFile.toPath)).trim.toDouble
        else -1.0
        (spark.read.parquet(dir.getAbsolutePath).localCheckpoint(), sec)
      } else {
        val (g, sec) = time(build.localCheckpoint())
        dir.getParentFile.mkdirs()
        g.write.mode("overwrite").parquet(dir.getAbsolutePath)
        java.nio.file.Files.writeString(secFile.toPath, sec.toString)
        (g, sec)
      }
    }

    /** The graph a production system would serve at this n. At or below
      * 2× the build crossover: one `knnGraphAuto` build (the router the
      * declared queries use). Above it: TWO half-shards through the same
      * router, folded by `knnGraphMerge` — the sharded-construction
      * shape the 10⁹-vector story rests on (q177), and, concretely, the
      * only shape whose per-round candidate exchange fits this one-disk
      * box at n = 1.7×10⁶ (the monolithic descent build's round-1
      * exchange measured past the 80 GB free here). Shard cache keys are
      * DescentLifecycle's verbatim. */
    def buildOrLoad(n: Long, emb: DataFrame): (DataFrame, Double) = {
      if (n <= graft.ops.Similarity.KnnBuildCrossover * 2)
        cached(s"gFull_n${n}_lo0_d${dim}_k${graphK}_ik$iterK") {
          graft.ops.Similarity.knnGraphAuto(emb, "vec_id", "embedding",
            graphK, iterK = iterK)
        }
      else {
        val half = n / 2
        val (gA, secA) = cached(s"gA_n${half}_lo0_d${dim}_k${graphK}_ik$iterK") {
          graft.ops.Similarity.knnGraphAuto(synth(0L, half),
            "vec_id", "embedding", graphK, iterK = iterK)
        }
        val (gB, secB) = cached(
          s"gB_n${n - half}_lo${half}_d${dim}_k${graphK}_ik$iterK") {
          graft.ops.Similarity.knnGraphAuto(synth(half, n),
            "vec_id", "embedding", graphK, iterK = iterK)
        }
        val (gM, secM) = cached(s"gM_n${n}_lo0_d${dim}_k${graphK}" +
          s"_ik${iterK}_mi${mergeIterK}_mr$mergeRounds") {
          graft.ops.Similarity.knnGraphMerge(gA, gB, emb,
            "vec_id", "embedding", graphK, rounds = mergeRounds,
            iterK = mergeIterK)
        }
        (gM, (if (secA > 0) secA else 0.0) + (if (secB > 0) secB else 0.0) +
          (if (secM > 0) secM else 0.0))
      }
    }

    def r3(v: Double): String = graft.BenchUtil.r3(v)
    val canaryStart = graft.BenchUtil.canary()
    val rows = scala.collection.mutable.ArrayBuffer.empty[String]
    var gateFail = List.empty[Long]

    for (n <- ns) {
      val emb = synth(0L, n).localCheckpoint()
      val arm = if (n > graft.ops.Similarity.KnnBuildCrossover) "descent"
        else "exact"
      println(s"BUDGETRULE n=$n arm=$arm: corpus ready")
      val exact = exactTop(emb)
      val (g, buildSec) = buildOrLoad(n, emb)
      val budget = graft.ops.Similarity.beamBudgetFor(n)
      // NO manual budgets: the serving entry point's -1 defaults resolve
      // through beamBudgetFor — the thing under audit
      val (got, serveSec) = time {
        graft.ops.Similarity.beamSearchAnnOnGraph(
            g, emb, "vec_id", "embedding", qids, serveK)
          .select(col("qid").cast("long"), col("nbr").cast("long"))
          .collect().groupBy(_.getLong(0))
          .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      }
      val recall = exact.map { case (q, ex) =>
        ex.intersect(got.getOrElse(q, Set.empty)).size.toDouble / serveK
      }.sum / exact.size
      if (recall < 0.95) gateFail ::= n
      // COUNTERFACTUAL: the rule's PREVIOUS step at the same n — the
      // measurement behind the half-decade round-up (r16 verdict item 3:
      // "step-1 reads 0.92 at n = 8.5×10⁵ where step-2 reads ≥ 0.95").
      // Only meaningful where a step-down exists: above the reference
      // scale, and below the cap's plateau (once the previous decade is
      // capped too, the rule never serves the lower step). Recorded next
      // to the rule's own row so the artifact carries both sides of the
      // rounding decision.
      val steps = graft.ops.Similarity.beamStepsFor(n)
      val prevJson =
        if (steps == 0 || graft.ops.Similarity.beamStepsFor(n / 10) == steps) ""
        else {
          val prev = graft.ops.Similarity.beamBudgetAt(steps - 1)
          val (gotPrev, prevSec) = time {
            graft.ops.Similarity.beamSearchAnnOnGraph(
                g, emb, "vec_id", "embedding", qids, serveK,
                beamWidth = prev.beamWidth, rounds = prev.rounds,
                entries = prev.entries)
              .select(col("qid").cast("long"), col("nbr").cast("long"))
              .collect().groupBy(_.getLong(0))
              .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
          }
          val prevRecall = exact.map { case (q, ex) =>
            ex.intersect(gotPrev.getOrElse(q, Set.empty)).size.toDouble / serveK
          }.sum / exact.size
          s""","prev_budget":{"beam":${prev.beamWidth},""" +
            s""""rounds":${prev.rounds},"entries":${prev.entries}},""" +
            s""""prev_serve_sec":${r3(prevSec)},""" +
            s""""prev_recall":${r3(prevRecall)}"""
        }
      val shape = if (n <= graft.ops.Similarity.KnnBuildCrossover * 2) "mono"
        else s"shard_merge(mi=$mergeIterK,mr=$mergeRounds)"
      val row = s"""{"n":$n,"arm":"$arm","build":"$shape",""" +
        s""""build_sec":${r3(buildSec)},""" +
        s""""budget":{"beam":${budget.beamWidth},"rounds":${budget.rounds},""" +
        s""""entries":${budget.entries}},"serve_sec":${r3(serveSec)},""" +
        s""""recall":${r3(recall)}$prevJson}"""
      println(s"BUDGETRULE $row")
      rows += row
      val doc =
        s"""{"dim":$dim,"iterk":$iterK,"k":$graphK,"serve_k":$serveK,""" +
        s""""ref_n":${graft.ops.Similarity.BeamBudgetRefN},"gate":0.95,""" +
        s""""gate_fail":[${gateFail.reverse.mkString(",")}],""" +
        s""""canary":{"start":${r3(canaryStart)},""" +
        s""""end":${r3(graft.BenchUtil.canary())}},""" +
        s""""partial":${rows.size < ns.size},""" +
        s""""scales":[${rows.mkString(",")}]}"""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), doc)
      System.gc(); Thread.sleep(2000)
    }
    println(s"BUDGETRULE_ARTIFACT $out" +
      (if (gateFail.nonEmpty) s" GATE_FAIL ${gateFail.reverse.mkString(",")}"
       else ""))
    spark.stop()
  }
}
