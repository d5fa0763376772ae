package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end lifecycle audit of the DESCENT arm above the build
  * crossover (round-14 verdict item 2).
  *
  * Every declared graph query runs at the gate SFs, which sit far below
  * [[graft.ops.Similarity.KnnBuildCrossover]] (8×10⁵ measured), so
  * `knnGraphAuto` always routes them to the EXACT tile scan — the
  * descent arm that carries the whole 10⁹-vector story had no
  * end-to-end build → insert → delete → merge → serve run on a
  * distinct-vector corpus above the crossover. This tool is that run:
  *
  *   - corpus: n (default 1.7×10⁶) deterministic hash-mixed uniform
  *     vectors — the round-14 budget sweep's synthetic recipe (20k
  *     uniform vectors; entries 8 → 128 moved recall 0.66 → 0.68 there),
  *     the structureless worst case for a graph walk (dim default 16;
  *     the claim under audit is routing + maintenance soundness, not
  *     dimensionality);
  *   - shard A = ids below n/2, shard B = the rest — each HALF is above
  *     the crossover, so every build in the probe (A, B) goes through
  *     the SAME `knnGraphAuto` router the declared queries use and
  *     provably takes the descent arm;
  *   - verbs, each an independent transition from A's descent-built
  *     graph (the q174/q175/q177 contract shape): INSERT a fresh
  *     delta batch, DELETE a batch of base ids, MERGE with B's
  *     descent-built graph; after every verb the resulting index is
  *     SERVED (beam walk, the q172 budgets) for 10 fixed queries and
  *     scored against the exact integer-L2 top-5 over the verb's own
  *     corpus — the recall ≥ 0.9 gate per verb.
  *
  * Local-box honesty notes, recorded in the artifact rather than hidden:
  *   - `spark.sql.autoBroadcastJoinThreshold` is raised to 512 MB so the
  *     descent's vector-fetch joins broadcast the (id → vec) table
  *     (~150 MB at n=8.5×10⁵, trivially in-memory for this single-JVM
  *     128 GB box). On a real cluster the same joins run
  *     hash-partitioned — the documented scale shape; the ROUTING and
  *     MAINTENANCE semantics under audit are identical either way.
  *   - `iterk` (the descent working width) is an explicit recorded
  *     budget: the log-n default (≈44 at n=10⁶) puts the per-round
  *     candidate space at ~4·44²·n ≈ 7×10⁹ rows — beyond this box's
  *     free disk for the one exchange that must stay width-pinned — so
  *     the probe default is 24 and the artifact records it next to the
  *     recall each verb actually achieved at that width (the gate is on
  *     SERVED recall, which is the product the budget buys).
  *
  * Output: one JSON artifact (default `descent_lifecycle_r15.json`),
  * canary-bracketed, one row per verb: seconds, output edge count, and
  * the served recall@5 over that verb's corpus.
  *
  * Run: {{{ sbt "runMain graft.tools.DescentLifecycle" }}}
  * Knobs: SPARK_GRAFT_LC_N (union size), SPARK_GRAFT_LC_DIM,
  * SPARK_GRAFT_LC_ITERK, SPARK_GRAFT_LC_DELTA, SPARK_GRAFT_LC_DEL,
  * SPARK_GRAFT_LC_OUT, SPARK_GRAFT_LC_VERBS (comma subset of
  * insert,delete,merge — build+serve always run). */
object DescentLifecycle {

  private def envL(k: String, d: Long): Long =
    sys.env.get(k).flatMap(_.toLongOption).getOrElse(d)
  private def envI(k: String, d: Int): Int =
    sys.env.get(k).flatMap(_.toIntOption).getOrElse(d)

  def main(args: Array[String]): Unit = {
    val n = envL("SPARK_GRAFT_LC_N", 1700000L)
    val dim = envI("SPARK_GRAFT_LC_DIM", 16)
    val iterK = envI("SPARK_GRAFT_LC_ITERK", 24)
    val deltaN = envL("SPARK_GRAFT_LC_DELTA", 20000L)
    val delN = envL("SPARK_GRAFT_LC_DEL", 2000L)
    val out = sys.env.getOrElse("SPARK_GRAFT_LC_OUT", "descent_lifecycle_r16.json")
    val verbs = sys.env.get("SPARK_GRAFT_LC_VERBS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set("insert", "delete", "merge"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val graphK = 8
    val serveK = 5
    val qids = 0L until 10L
    // serve budget: -1 (the default since round 16) = the production
    // auto rule ([[graft.ops.Similarity.beamBudgetFor]] at each serve's
    // corpus size) — the gate is on SERVED recall and the artifact
    // records the RESOLVED budget each serve actually ran; explicit env
    // values override for sweeps
    val beamW = envI("SPARK_GRAFT_LC_BEAM", -1)
    val beamRounds = envI("SPARK_GRAFT_LC_ROUNDS", -1)
    val beamEntries = envI("SPARK_GRAFT_LC_ENTRIES", -1)
    // merge budget: the warm-started merge converges in fewer rounds by
    // design (KnnGraphMergeSpec), and its round-1 candidate exchange at
    // the UNION size is the probe's disk peak — both knobs recorded
    val mergeIterK = envI("SPARK_GRAFT_LC_MERGE_ITERK", 16)
    val mergeRounds = envI("SPARK_GRAFT_LC_MERGE_ROUNDS", 3)
    // a 20-minute descent build must not be repaid per experiment: built
    // graphs persist under the work dir keyed by every build parameter
    val workDir = sys.env.getOrElse("SPARK_GRAFT_LC_WORK", "/tmp/graft_lc")
    // SPARK_GRAFT_LC_SWEEP=1: after build A, sweep serve budgets over
    // the persisted graph (recall per cell) and skip the other verbs —
    // the cheap experiment that separates graph quality from walk budget
    val sweepMode = sys.env.get("SPARK_GRAFT_LC_SWEEP").contains("1")

    val half = n / 2
    // SPARK_GRAFT_LC_ALLOW_EXACT=1: harness smoke mode at small n (the
    // router then takes the exact arm and the artifact says so) — for
    // validating the probe's own plumbing cheaply, never the real audit
    val allowExact = sys.env.get("SPARK_GRAFT_LC_ALLOW_EXACT").contains("1")
    require(allowExact || half > graft.ops.Similarity.KnnBuildCrossover,
      s"each shard (n/2 = $half) must exceed the crossover " +
        s"(${graft.ops.Similarity.KnnBuildCrossover}) so knnGraphAuto " +
        "provably takes the descent arm — raise SPARK_GRAFT_LC_N")
    val arm = if (half > graft.ops.Similarity.KnnBuildCrossover) "descent"
      else "exact"

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // single-JVM probe: let the (id → vec) table broadcast so the
      // descent's scoring joins don't shuffle the candidate set with
      // vectors attached (see the header note; cluster shape unchanged).
      // 2 GB: the UNION corpus (merge phase) estimates past 512 MB, and
      // the sort-merge fallback shuffles ~1e9 candidate rows WITH
      // vectors attached — measured >78 GB of spill, ENOSPC
      .config("spark.sql.autoBroadcastJoinThreshold", (2048L << 20).toString)
      // a 48 GB heap sees so little GC pressure that ContextCleaner's
      // weak refs never fire and finished phases' shuffle files pile up
      // on disk for the whole run (the default periodicGC is 30 min —
      // longer than several phases; the first full run died ENOSPC in
      // the merge with every earlier phase's shuffles still on disk)
      .config("spark.cleaner.periodicGC.interval", "90s")
      // zstd halves the candidate exchanges' on-disk bytes vs lz4: the
      // merge round's two co-live candidate-scale shuffles (~1.7e9 rows
      // pinned-width repartition + the TopK partial-heap exchange) are
      // the probe's disk peak on this one-disk box
      .config("spark.io.compression.codec", "zstd")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    /** Deterministic hash-mixed uniform corpus over [lo, hi). */
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

    /** Phase boundary: nudge ContextCleaner so the finished phase's
      * shuffle files actually leave the disk before the next phase
      * needs it (see the periodicGC note above). */
    def reclaim(): Unit = { System.gc(); Thread.sleep(3000) }

    /** Exact integer-L2 top-`serveK` for the 10 fixed queries over
      * `corpus` — one broadcast scan (10 query rows against the corpus),
      * the BeamAnnSpec oracle at any n. */
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

    /** Serve the 10 queries off `graph` over `corpus` at the probe's
      * serve budget and score against `exact`. */
    /** The budget a serve over `n` rows resolves to (env overrides win;
      * -1 knobs go through the production rule) — recorded per verb as
      * FLAT row fields (the carried-row regex owns the row shape). */
    def resolvedBudget(n: Long): String = {
      val auto = graft.ops.Similarity.beamBudgetFor(n)
      val b = if (beamW > 0) beamW else auto.beamWidth
      val r = if (beamRounds > 0) beamRounds else auto.rounds
      val e = if (beamEntries > 0) beamEntries else auto.entries
      s""""beam":$b,"srounds":$r,"entries":$e"""
    }

    def servedRecall(graph: DataFrame, corpus: DataFrame,
                     exact: Map[Long, Set[Long]],
                     bw: Int = beamW, rounds: Int = beamRounds,
                     entries: Int = beamEntries): Double = {
      val got = graft.ops.Similarity.beamSearchAnnOnGraph(
          graph, corpus, "vec_id", "embedding", qids, serveK,
          beamWidth = bw, rounds = rounds, entries = entries)
        .select(col("qid").cast("long"), col("nbr").cast("long"))
        .collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      exact.map { case (q, ex) =>
        ex.intersect(got.getOrElse(q, Set.empty)).size.toDouble / serveK
      }.sum / exact.size
    }

    /** Build-once / reuse-forever: a persisted graph keyed by every
      * build parameter (the synthetic corpus is a pure function of
      * (range, dim), so the key IS the content). Returns (graph,
      * buildSec) — buildSec < 0 when the graph was reused (the artifact
      * then reports the recorded build time from the key's sibling). */
    def buildOrLoad(tag: String, lo: Long, hi: Long,
                    emb: DataFrame): (DataFrame, Double) = {
      val key = s"${tag}_n${hi - lo}_lo${lo}_d${dim}_k${graphK}_ik$iterK"
      val dir = new java.io.File(workDir, key)
      val done = new java.io.File(dir, "_SUCCESS")
      val secFile = new java.io.File(workDir, s"$key.sec")
      if (done.exists()) {
        val sec = if (secFile.isFile)
          new String(java.nio.file.Files.readAllBytes(secFile.toPath)).trim.toDouble
        else -1.0
        (spark.read.parquet(dir.getAbsolutePath).localCheckpoint(), sec)
      } else {
        val (g, sec) = time {
          graft.ops.Similarity.knnGraphAuto(emb, "vec_id", "embedding",
            graphK, iterK = iterK).localCheckpoint()
        }
        g.write.mode("overwrite").parquet(dir.getAbsolutePath)
        java.nio.file.Files.writeString(secFile.toPath, sec.toString)
        (g, sec)
      }
    }

    def r3(v: Double): String = graft.BenchUtil.r3(v)
    case class Row(verb: String, sec: Double, edges: Long,
                   serveSec: Double, recall: Double, budget: String = "")
    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
    val canaryStart = graft.BenchUtil.canary()
    // RESUMABLE probe: rows for verbs this invocation does NOT run are
    // carried over from an existing artifact (same binary, box and
    // params — the point is running the disk-peak merge phase in a
    // fresh JVM without re-paying or discarding the other verbs'
    // measurements). Carried rows are marked "carried":true.
    val carried: Seq[String] = {
      val f = java.nio.file.Paths.get(out)
      if (!java.nio.file.Files.exists(f)) Seq.empty
      else {
        val txt = java.nio.file.Files.readString(f)
        val row = """\{"verb":"([a-z_]+)"[^}]*\}""".r
        val skipBuild = false // build rows always re-emitted (persisted sec)
        row.findAllMatchIn(txt).toSeq.collect {
          case m if {
            val v = m.group(1)
            (v == "insert" && !verbs("insert")) ||
            (v == "delete" && !verbs("delete")) ||
            ((v == "merge" || v == "build_b") && !verbs("merge"))
          } =>
            val body = m.matched
            if (body.contains("\"carried\"")) body
            else body.dropRight(1) + ""","carried":true}"""
        }
      }
    }
    /** Written after EVERY phase (partial = true) so an ENOSPC-class
      * crash mid-probe keeps the completed rows; the final write stamps
      * the closing canary and partial = false. */
    def writeArtifact(done: Boolean = false): Unit = {
      val canaryEnd = graft.BenchUtil.canary()
      val gateFail = rows.filter(r => r.recall >= 0.0 && r.recall < 0.9)
      val rowsJson = (rows.map { r =>
        s"""{"verb":"${r.verb}","sec":${r3(r.sec)},"edges":${r.edges}""" +
          (if (r.recall >= 0)
            s""","serve_sec":${r3(r.serveSec)},"recall":${r3(r.recall)}""" +
              (if (r.budget.nonEmpty) "," + r.budget else "")
           else "") + "}"
      } ++ carried).mkString("[", ",", "]")
      val doc =
        s"""{"n":$n,"dim":$dim,"k":$graphK,"serve_k":$serveK,"iterk":$iterK,""" +
        s""""merge_iterk":$mergeIterK,"merge_rounds":$mergeRounds,""" +
        s""""serve_budget":{"beam":$beamW,"rounds":$beamRounds,"entries":$beamEntries},""" +
        s""""delta":$deltaN,"deletes":$delN,""" +
        s""""crossover":${graft.ops.Similarity.KnnBuildCrossover},"shard":$half,""" +
        s""""arm":"$arm","gate":0.9,"gate_fail":[${gateFail.map("\"" + _.verb + "\"").mkString(",")}],""" +
        s""""partial":${!done},""" +
        s""""canary":{"start":${r3(canaryStart)},"end":${r3(canaryEnd)}},""" +
        s""""verbs":$rowsJson}"""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), doc)
      println(s"LIFECYCLE_ARTIFACT $out")
    }

    // ---- shard A: the base everything else transitions from ----------------
    val embA = synth(0L, half).localCheckpoint()
    println(s"LIFECYCLE corpus A ready: $half vectors, dim $dim")
    val exactA = exactTop(embA)
    // the router's arm is a pure function of n: half > crossover ⇒ descent
    val (gA, buildSec) = buildOrLoad("gA", 0L, half, embA)
    val edgesA = gA.count()
    if (sweepMode) {
      for (bw <- Seq(32, 64, 96); rd <- Seq(3, 4, 6); en <- Seq(64, 256)) {
        val (rec, ssec) = time(servedRecall(gA, embA, exactA, bw, rd, en))
        println(f"LIFECYCLE_SWEEP beam=$bw rounds=$rd entries=$en " +
          f"recall=$rec%.3f t=$ssec%.1fs")
      }
      spark.stop(); return
    }
    val (recA, serveSecA) = time(servedRecall(gA, embA, exactA))
    rows += Row("build", buildSec, edgesA, serveSecA, recA,
      resolvedBudget(half))
    println(f"LIFECYCLE build: ${buildSec}%.1fs, $edgesA edges, " +
      f"served recall $recA%.3f (${serveSecA}%.1fs)")
    writeArtifact()
    reclaim()

    // ---- insert: a fresh delta batch into A's graph -------------------------
    if (verbs("insert")) {
      val embD = synth(n, n + deltaN).localCheckpoint()
      val union = embA.unionByName(embD).localCheckpoint()
      val exactU = exactTop(union)
      val (g2, sec) = time {
        graft.ops.Similarity.knnGraphInsert(gA, embA, "vec_id", "embedding",
          embD, "vec_id", "embedding", graphK).localCheckpoint()
      }
      val edges = g2.count()
      val (rec, ssec) = time(servedRecall(g2, union, exactU))
      rows += Row("insert", sec, edges, ssec, rec,
        resolvedBudget(half + deltaN))
      println(f"LIFECYCLE insert($deltaN): ${sec}%.1fs, $edges edges, " +
        f"served recall $rec%.3f (${ssec}%.1fs)")
      writeArtifact()
      reclaim()
    }

    // ---- delete: a batch of base ids out of A's graph -----------------------
    if (verbs("delete")) {
      // a contiguous id block away from the query ids
      val delIds = (100000L until (100000L + delN)).toSeq
      val survivors = embA.where(!col("vec_id").isin(delIds: _*))
        .localCheckpoint()
      val exactS = exactTop(survivors)
      val (g3, sec) = time {
        graft.ops.Similarity.knnGraphDelete(gA, embA, "vec_id", "embedding",
          delIds, graphK).localCheckpoint()
      }
      val edges = g3.count()
      val (rec, ssec) = time(servedRecall(g3, survivors, exactS))
      rows += Row("delete", sec, edges, ssec, rec,
        resolvedBudget(half - delN))
      println(f"LIFECYCLE delete($delN): ${sec}%.1fs, $edges edges, " +
        f"served recall $rec%.3f (${ssec}%.1fs)")
      writeArtifact()
      reclaim()
    }

    // ---- merge: B's descent-built shard folded into A ------------------------
    if (verbs("merge")) {
      val embB = synth(half, n).localCheckpoint()
      val (gB, secB) = buildOrLoad("gB", half, n, embB)
      val edgesB = gB.count()
      rows += Row("build_b", secB, edgesB, -1.0, -1.0)
      println(f"LIFECYCLE build B: ${secB}%.1fs, $edgesB edges")
      writeArtifact()
      reclaim()
      val union = embA.unionByName(embB).localCheckpoint()
      val exactU = exactTop(union)
      // merged graph persists under the SAME key BeamBudgetRuleProbe
      // derives, so the budget probe's large scale serves off this
      // exact index instead of re-paying the merge
      val mergeKey = s"gM_n${n}_lo0_d${dim}_k${graphK}" +
        s"_ik${iterK}_mi${mergeIterK}_mr$mergeRounds"
      val mergeDir = new java.io.File(workDir, mergeKey)
      val mergeDone = new java.io.File(mergeDir, "_SUCCESS")
      val mergeSecF = new java.io.File(workDir, s"$mergeKey.sec")
      val (gM, sec) = if (mergeDone.exists()) {
        val s = if (mergeSecF.isFile)
          new String(java.nio.file.Files.readAllBytes(mergeSecF.toPath)).trim.toDouble
        else -1.0
        (spark.read.parquet(mergeDir.getAbsolutePath).localCheckpoint(), s)
      } else {
        val (g, s) = time {
          graft.ops.Similarity.knnGraphMerge(gA, gB, union,
            "vec_id", "embedding", graphK, rounds = mergeRounds,
            iterK = mergeIterK).localCheckpoint()
        }
        g.write.mode("overwrite").parquet(mergeDir.getAbsolutePath)
        java.nio.file.Files.writeString(mergeSecF.toPath, s.toString)
        (g, s)
      }
      val edges = gM.count()
      val (rec, ssec) = time(servedRecall(gM, union, exactU))
      rows += Row("merge", sec, edges, ssec, rec, resolvedBudget(n))
      println(f"LIFECYCLE merge: ${sec}%.1fs, $edges edges, " +
        f"served recall $rec%.3f (${ssec}%.1fs)")
    }

    writeArtifact(done = true)
    val gateFail = rows.filter(r => r.recall >= 0.0 && r.recall < 0.9)
    if (gateFail.nonEmpty)
      println(s"LIFECYCLE_GATE_FAIL ${gateFail.map(_.verb).mkString(",")}")
    spark.stop()
  }
}
