package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.ops.Lexical
import graft.streaming.PostingsMaintenance

/** BM25 serving under CDC commits: `PostingsMaintenance` state seeded
  * from a generated corpus, then rounds of [[ServesPerRound]]
  * `bm25Serve(...).collect()` reads followed by one `applyBatch` write
  * ([[Deletes]] deletes + [[Inserts]] inserts) with `compactEvery =`
  * [[CompactEvery]], so delta chains grow and collapse on a fixed
  * schedule. The only workload that mixes writes with reads: a cheaper
  * commit that lengthens chains shows up as slower serves.
  *
  * The untimed warm-up runs one compaction cycle on the timed state, so
  * timed serves read a base that `applyBatch` compacted, alone or with its
  * delta. The timed loop runs at least [[TimedCycles]] compaction cycles:
  * the host's speed drifts over seconds, and a longer timed stretch
  * averages more of it. Check (outside the timed operations): the first
  * serve after every commit, and one serve on the final state, equal
  * `Lexical.buildPostings` + `bm25TopK` over the live corpus.
  */
object Bm25Maintain {

  val Docs = 1000
  val ServesPerRound = 3
  val Deletes = 20
  val Inserts = 20
  val CompactEvery = 2
  val TimedCycles = 2
  val TopK = 10

  private def docsDf(spark: SparkSession, docs: Iterable[(Long, String)]): DataFrame = {
    import spark.implicits._
    docs.toSeq.toDF("doc_id", "text").repartition(4)
  }

  private def batchDf(spark: SparkSession, dels: Seq[Long], ins: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    (dels.map(d => ("D", d, null: String)) ++ ins.map { case (id, t) => ("I", id, t) })
      .toDF("op", "doc_id", "text")
  }

  private def dirBytes(f: File): (Long, Long) =
    if (f.isFile) (f.length(), 1L)
    else Option(f.listFiles()).toSeq.flatten.map(dirBytes)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  def reference(spark: SparkSession, live: Iterable[(Long, String)], terms: Seq[String]): Seq[Row] = {
    val d = docsDf(spark, live)
    Lexical.bm25TopK(Lexical.buildPostings(d, "doc_id", "text"), Lexical.buildStats(d, "text"),
      terms, TopK).collect().toSeq
  }

  def run(ctx: Main.Ctx): Unit = {
    val spark = ctx.spark
    val sc = ctx.sc
    val vocab = Gen.vocabulary(ctx.seed, 1200)
    val rng = Gen.rng(ctx.seed, 5)
    // one frequent, one mid-frequency and one rare term, so every serve
    // does comparable work whatever the seed
    def queryTerms(): Seq[String] =
      Seq(vocab(rng.nextInt(10)), vocab(10 + rng.nextInt(90)), vocab(100 + rng.nextInt(vocab.length - 100)))

    val docs = Gen.documents(ctx.seed, Docs, vocab).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val stateDir = ctx.setupMedian(3, Main.deleteTree) { rep =>
      val d = new File(ctx.workDir, s"state$rep")
      PostingsMaintenance.init(d.getAbsolutePath, docsDf(spark, docs), "doc_id", "text")
      d
    }
    val sdir = stateDir.getAbsolutePath
    val live = mutable.LinkedHashMap(docs.toSeq: _*)
    var nextId = Docs.toLong
    var version = 0L // batch id of the next commit
    var chain = 1 // versions on the resolution chain (base + deltas)

    /** One `applyBatch` of a fresh CDC batch, timed as a phase of round
      * `parent` when given; returns (seconds, compacted). */
    def commit(parent: Option[String]): (Double, Boolean) = {
      val (dels, ins) = Gen.cdcBatch(rng, live, nextId, Deletes, Inserts, vocab)
      val compacting = chain >= CompactEvery
      def apply(): Unit = PostingsMaintenance.applyBatch(batchDf(spark, dels, ins), version, sdir,
        compactEvery = CompactEvery)
      val t = parent.fold { apply(); 0.0 } { p =>
        Trace.phase(sc, if (compacting) "streaming.commit_compact" else "streaming.commit_delta", p)(apply())._2
      }
      val latest = PostingsMaintenance.latestVersion(sdir)
      ctx.op(latest.contains(version), s"commit $version left version $latest")
      dels.foreach(live.remove); live ++= ins
      nextId += Inserts
      version += 1
      chain = if (compacting) 1 else chain + 1
      (t, compacting)
    }

    /** Untimed check: `rows` equal the reference over the live corpus. */
    def check(rows: Seq[Row], terms: Seq[String], what: String): Unit = {
      val want = reference(spark, live, terms)
      ctx.op(rows == want, s"$what ${terms.mkString(" ")}: ${rows.take(3)} != ${want.take(3)}")
    }

    // untimed warm-up on the timed state: a serve on the init base, a delta
    // commit, a serve on the delta chain and a compaction. So the timed
    // rounds start on a base that an applyBatch compaction wrote.
    (0 until CompactEvery).foreach { _ =>
      PostingsMaintenance.bm25Serve(spark, sdir, queryTerms(), TopK).collect()
      commit(None)
    }

    final case class Serve(s: Double, chain: Int, firstAfterCommit: Boolean, round: Int)
    val serves = mutable.ArrayBuffer.empty[Serve]
    val commits = mutable.ArrayBuffer.empty[(Double, Boolean)] // (seconds, compaction)
    val commitBytes = mutable.ArrayBuffer.empty[Long]
    var opSeconds = 0.0
    ctx.listener.reset()
    val untracedServes = mutable.ArrayBuffer.empty[(Int, Double)] // (chain, seconds)
    // traced runs serve every query twice, untraced and traced in turn
    // first: the gap between the two medians is the tracing overhead.
    // Rounds end on whole compaction cycles, so every run sees each chain
    // length equally often. The first serve after every commit is checked
    // against the reference, outside the timed operations.
    ctx.timedLoop(minPasses = TimedCycles * CompactEvery, cycle = CompactEvery) { round =>
      Trace.enabled = ctx.trace
      val roundId = Trace.newId()
      val r0 = System.nanoTime()
      var firstServe: (Seq[Row], Seq[String]) = null
      (0 until ServesPerRound).foreach { j =>
        val terms = queryTerms()
        def untraced(): Unit = if (ctx.trace) {
          Trace.enabled = false
          val t0 = System.nanoTime()
          PostingsMaintenance.bm25Serve(spark, sdir, terms, TopK).collect()
          untracedServes += ((chain, (System.nanoTime() - t0) / 1e9))
          Trace.enabled = true
        }
        if (j % 2 == 0) untraced()
        val (rows, t) = Trace.phase(sc, "ops.lexical.serve", roundId) {
          PostingsMaintenance.bm25Serve(spark, sdir, terms, TopK).collect().toSeq
        }
        if (j % 2 == 1) untraced()
        opSeconds += t
        serves += Serve(t, chain, j == 0, round)
        if (j == 0) firstServe = (rows, terms)
        else ctx.op(rows.nonEmpty && rows.length <= TopK, s"round $round serve returned ${rows.length} rows")
      }
      check(firstServe._1, firstServe._2, s"round $round first serve (chain $chain)")
      val c = commit(Some(roundId))
      opSeconds += c._1
      commits += c
      commitBytes += dirBytes(new File(stateDir, s"v${version - 1}"))._1
      Trace.span("bm25.round", r0, System.nanoTime(), null, roundId)
    }
    Trace.enabled = false
    locally { // the last commit's state serves the reference too
      val terms = queryTerms()
      check(PostingsMaintenance.bm25Serve(spark, sdir, terms, TopK).collect().toSeq, terms,
        s"final serve (chain $chain)")
    }
    ctx.e2e("live_heap_mb") = ctx.liveHeapMb()

    val serveS = serves.map(_.s).toSeq
    val p50 = Stats.median(serveS)
    // serve times are bimodal (base vs delta chain), so the end-to-end
    // figure is the mean over chain lengths of the median serve on each:
    // one median of all serves would sit in the gap between the two modes
    def chainMedians(xs: Seq[(Int, Double)]): Double = {
      val byChain = xs.groupBy(_._1).values.map(c => Stats.median(c.map(_._2)))
      byChain.sum / byChain.size
    }
    val servesP50 = chainMedians(serves.map(x => (x.chain, x.s)).toSeq)
    ctx.e2e("op_p50_s") = servesP50
    ctx.e2e("work_per_s") = serves.length / opSeconds
    val (stateBytes, stateFiles) = dirBytes(stateDir)
    val docBytes = live.values.map(_.getBytes("UTF-8").length.toLong).sum
    val commitP50 = Stats.median(commits.map(_._1).toSeq)
    val tail = Stats.tail(serveS)
    ctx.line(f"docs $Docs, rounds ${commits.length}, serves ${serveS.length}, serve_p50_s $p50%.4f s, " +
      tail.map { case (p, v) => f"serve_tail_s $v%.4f s (p$p%.1f of n=${serveS.length})" }
        .getOrElse(s"serve_tail_s n/a (n=${serveS.length} < 20)"))
    ctx.line("serve s by round: " + serves.groupBy(_.round).toSeq.sortBy(_._1)
      .map { case (r, ss) => s"$r: " + ss.map(x => f"${x.s}%.3f").mkString(" ") }.mkString("; ") +
      "; commits s: " + commits.map(c => f"${c._1}%.3f").mkString(" "))
    ctx.line(f"commit_p50_s $commitP50%.4f s, state_bytes_per_doc_byte ${stateBytes.toDouble / docBytes}%.4f ratio " +
      s"($stateFiles files)")

    if (ctx.trace) {
      val L = ctx.layer
      val g = ctx.listener.snapshot
      val serveG = g.get("ops.lexical.serve").toSeq
      val commitG = g.filter(_._1.startsWith("streaming.commit")).values.toSeq
      ctx.sparkLayer(serveG ++ commitG, serveS.sum + commits.map(_._1).sum, serves.length + commits.length)
      L("ops.lexical.serve_p50_s") = p50
      val ns = serveS.length.toDouble
      L("ops.lexical.serve_jobs") = serveG.map(_.jobs).sum / ns
      L("ops.lexical.serve_input_records") = serveG.map(_.inputRecords).sum / ns
      L("ops.lexical.serve_input_bytes") = serveG.map(_.inputBytes).sum / ns
      L("streaming.commit_p50_s") = commitP50
      val deltas = commits.filter(!_._2).map(_._1).toSeq
      val compacts = commits.filter(_._2).map(_._1).toSeq
      L("streaming.commit_delta_p50_s") = if (deltas.isEmpty) 0.0 else Stats.median(deltas)
      L("streaming.commit_compact_p50_s") = if (compacts.isEmpty) 0.0 else Stats.median(compacts)
      L("streaming.commit_jobs") = commitG.map(_.jobs).sum.toDouble / commits.length
      L("streaming.commit_bytes_written") = Stats.median(commitBytes.map(_.toDouble).toSeq)
      L("streaming.state_files") = stateFiles.toDouble
      L("streaming.state_bytes_per_doc_byte") = stateBytes.toDouble / docBytes
      def p50Of(f: Serve => Boolean) = {
        val xs = serves.filter(f).map(_.s).toSeq
        if (xs.isEmpty) 0.0 else Stats.median(xs)
      }
      L("streaming.serve_after_compact_p50_s") = p50Of(_.chain == 1)
      L("streaming.serve_max_chain_p50_s") = p50Of(_.chain == serves.map(_.chain).max)
      L("streaming.first_serve_after_commit_p50_s") = p50Of(_.firstAfterCommit)
      L("trace.overhead_share") =
        if (untracedServes.isEmpty) 0.0 else servesP50 / chainMedians(untracedServes.toSeq) - 1.0
    }
  }
}
