package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.pipeline.{HttpChatModel, Inference, Schemas, Stages}
import graft.pipeline.ChatModel.Message
import graft.text.{ParseKernels, TextKernels}

/** The RC-RAG pipeline with the reference defaults (dense retriever, 3
  * passages, `num_iteration = 1`, probability fusion):
  * `Inference.ragAnnotate` -> `Inference.inferDecideFuse` ->
  * `Stages.confusion` -> `Stages.metrics`, one pass over the generated QA
  * samples per timed operation.
  *
  *  - `rcrag_engine`: the in-process twin LLM at 0 ms — engine overhead
  *    only (pipeline, expressions, text kernels, Spark).
  *  - `rcrag_llm`: the real [[HttpChatModel]] against the loopback stub
  *    with [[LatencyMs]] injected latency and seeded 503/400 failures — the
  *    LLM boundary dominates.
  *
  * Every pass is checked against [[RefFold]] over the same samples and
  * stub function: the six risk metrics, AK/AD/UK/UD and the exact number
  * of LLM calls.
  */
object RcRag {

  val EngineSamples = 4000
  val LlmSamples = 200
  val LatencyMs = 20L
  val WarmupSamples = 200
  val Cfg = Inference.Config() // dense, 3 passages, 1 iteration, probability

  def toDf(spark: SparkSession, qa: Seq[Gen.Qa]): DataFrame = {
    val rows = qa.map(q => Row(q.id, q.question, q.reference, q.sparse, q.dense, q.gold))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), Schemas.qaSample)
  }

  final case class PassResult(seconds: Double, annotate: Double, infer: Double, eval: Double,
                              metrics: Row, calls: Long, batches: Long, nulls: Long,
                              busyNanos: Long, inFlightMax: Int,
                              batchLog: Seq[(Long, Long, Int)])

  def pass(ctx: Main.Ctx, df: DataFrame, model: graft.pipeline.ChatModel.Model): PassResult = {
    val sc = ctx.sc
    Llm.Meter.reset()
    val passId = Trace.newId()
    val t0 = System.nanoTime()
    val (ann, tA) = Trace.phase(sc, "pipeline.annotate", passId) {
      Inference.ragAnnotate(df, model, Cfg).localCheckpoint()
    }
    val (inf, tI) = Trace.phase(sc, "pipeline.infer", passId) {
      Inference.inferDecideFuse(ann, model, Cfg)
    }
    val (row, tE) = Trace.phase(sc, "pipeline.eval", passId) {
      Stages.metrics(Stages.confusion(inf)).collect().head
    }
    val t1 = System.nanoTime()
    Trace.span("pipeline.pass", t0, t1, null, passId)
    ann.unpersist(blocking = true)
    val m = Llm.Meter
    import scala.jdk.CollectionConverters._
    PassResult((t1 - t0) / 1e9, tA, tI, tE, row, m.calls.get, m.batches.get, m.nulls.get,
      m.busyNanos.get, m.inFlightMax.get, m.batchLog.asScala.toSeq)
  }

  def stubClient(server: Llm.StubServer): HttpChatModel =
    new HttpChatModel(server.url, "stub", timeoutMs = 10000, retryBackoffMs = 5)

  /** Serial round trips at 0 ms injected latency: the stub's own cost. */
  def calibrateMs(server: Llm.StubServer, model: HttpChatModel, calls: Int): Double = {
    val conv = Seq(Seq(Message("user", "[case 12] calibration")))
    server.latencyMs = 0
    (1 to 50).foreach(_ => model.complete(conv))
    val t0 = System.nanoTime()
    (1 to calls).foreach(_ => model.complete(conv))
    (System.nanoTime() - t0) / 1e6 / calls
  }

  /** Nanoseconds per call of the text kernels on this workload's strings. */
  def kernelNs(outs: Seq[String], refs: Seq[Seq[String]]): Map[String, Double] = {
    val answers = outs.map(o => ParseKernels.dealPrediction(o).answer)
    def time(body: Int => Unit): Double = {
      var reps = 0
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 150000000L) { (0 until outs.length).foreach(body); reps += 1 }
      (System.nanoTime() - t0).toDouble / (reps.toLong * outs.length)
    }
    (1 to 2).foreach(_ => time(i => ParseKernels.dealPrediction(outs(i))))
    Map(
      "text.dealPrediction_ns" -> time(i => ParseKernels.dealPrediction(outs(i))),
      "text.emCompute_ns" -> time(i => TextKernels.emCompute(refs(i), answers(i))),
      "text.tokenF1_ns" -> time(i => TextKernels.tokenF1(refs(i), answers(i))),
      "text.rougeL_ns" -> time(i => TextKernels.rougeLRecall(refs(i), answers(i))))
  }

  def run(http: Boolean)(ctx: Main.Ctx): Unit = {
    val spark = ctx.spark
    val n = if (http) LlmSamples else EngineSamples
    var server: Llm.StubServer = null
    var df: DataFrame = null
    try {
      // one untimed pass warms JIT, codegen and class loading first, so the
      // set-up reps and the timed passes both see a warm JVM; rcrag_llm's
      // goes through its own stub at 0 ms, to warm the HTTP path too
      locally {
        val vocab = Gen.vocabulary(ctx.seed + 1000, 300)
        val docs = Gen.documents(ctx.seed + 1000, 300, vocab)
        val warm = if (http) new Llm.StubServer(0) else null
        try pass(ctx, toDf(spark, Gen.qaSamples(ctx.seed + 1000, WarmupSamples, docs, vocab)),
          new Llm.Metered(if (http) stubClient(warm) else new Llm.Twin))
        finally if (warm != null) warm.stop()
      }
      Main.mark("warm-up done")
      // each earlier rep's stub and cached frame are released outside the timer
      val release: Any => Unit = _ => {
        if (server != null) server.stop()
        df.unpersist(blocking = true)
      }
      var client: HttpChatModel = null
      val (qa, model) = ctx.setupMedian[(Seq[Gen.Qa], Llm.Metered)](3, release) { _ =>
        val vocab = Gen.vocabulary(ctx.seed, 1200)
        val docs = Gen.documents(ctx.seed, 2000, vocab)
        val qa = Gen.qaSamples(ctx.seed, n, docs, vocab)
        df = toDf(spark, qa).cache()
        df.count()
        val model =
          if (http) {
            server = new Llm.StubServer(0)
            client = stubClient(server)
            new Llm.Metered(client)
          } else new Llm.Metered(new Llm.Twin)
        (qa, model)
      }
      if (http) server.latencyMs = LatencyMs

      val fold = qa.map(q => RefFold.sample(q, Llm.completion))
      val conf = fold.map(r => RefFold.cell(r.label, r.pred)).reduce(_ + _)
      val foldCalls = fold.map(_.calls.toLong).sum

      val passes = scala.collection.mutable.ArrayBuffer.empty[PassResult]
      val untraced = scala.collection.mutable.ArrayBuffer.empty[Double]
      var retries = 0L
      ctx.listener.reset()
      ctx.timedLoop(minPasses = if (ctx.trace) 2 else 1) { i =>
        // traced runs alternate untraced and traced passes: the gap between
        // the two medians is the tracing overhead
        val traced = ctx.trace && i % 2 == 1
        Trace.enabled = traced
        if (server != null) { server.resetEpoch(); server.retries.set(0) }
        val p = pass(ctx, df, model)
        if (server != null) retries += server.retries.get
        val got = (0 until 10).map(j => p.metrics.get(j))
        val want = conf.metrics ++ Seq(conf.ak, conf.ad, conf.uk, conf.ud)
        ctx.op(got.zip(want).forall { case (g, w) => g == w },
          s"pass $i metrics ${got.mkString(",")} != reference ${want.mkString(",")}")
        ctx.op(p.calls == foldCalls, s"pass $i made ${p.calls} LLM calls, reference ${foldCalls}")
        if (!ctx.trace || traced) passes += p else untraced += p.seconds
      }
      Trace.enabled = false
      ctx.e2e("live_heap_mb") = ctx.liveHeapMb()
      if (http) { // after the timed passes, so the client's path is warm
        val calMs = calibrateMs(server, client, 300)
        ctx.op(calMs <= 3.0, f"stub adds $calMs%.2f ms per call at 0 ms latency (limit 3 ms)")
        ctx.line(f"stub calibration: $calMs%.3f ms per call at 0 ms injected latency")
      }

      val secs = passes.map(_.seconds).toSeq
      val passP50 = Stats.median(secs)
      ctx.e2e("work_per_s") = n / passP50
      ctx.e2e("op_p50_s") = passP50
      val callsPerSample = passes.head.calls.toDouble / n
      val nullRatio = passes.head.nulls.toDouble / passes.head.calls
      ctx.line(f"samples $n, passes (s): ${secs.map(x => f"$x%.3f").mkString(" ")}, pass p50 $passP50%.3f s, " +
        f"samples_per_s ${n / passP50}%.2f, llm_calls_per_sample $callsPerSample%.4f, " +
        f"null_prediction_ratio $nullRatio%.5f")
      ctx.line("risk metrics: " + RefFold.MetricNames.zip(conf.metrics)
        .map { case (k, v) => f"$k=$v%.6f" }.mkString(" ") +
        s" AK=${conf.ak} AD=${conf.ad} UK=${conf.uk} UD=${conf.ud}")

      if (ctx.trace) layers(ctx, n, passes.toSeq, untraced.toSeq, fold, qa, retries.toDouble / (passes.length + untraced.length), http)
    } finally {
      if (server != null) server.stop()
    }
  }

  private def layers(ctx: Main.Ctx, n: Int, passes: Seq[PassResult], untraced: Seq[Double],
                     fold: Seq[RefFold.Row], qa: Seq[Gen.Qa], retriesPerPass: Double,
                     http: Boolean): Unit = {
    val L = ctx.layer
    L("pipeline.annotate_s") = Stats.median(passes.map(_.annotate))
    L("pipeline.infer_s") = Stats.median(passes.map(_.infer))
    L("pipeline.eval_s") = Stats.median(passes.map(_.eval))
    // the listener sees every pass, traced or not
    val groups = ctx.listener.snapshot.filter(_._1.startsWith("pipeline.")).values
    ctx.sparkLayer(groups, passes.map(_.seconds).sum + untraced.sum, passes.length + untraced.length)
    L("pipeline.jobs") = L("spark.jobs")
    L("pipeline.driver_gap_s") = L("spark.driver_gap_s")
    L("pipeline.agree_ratio") = fold.count(r => r.use == r.quality).toDouble / n
    L("pipeline.label_keep_ratio") = fold.count(_.label == "keep").toDouble / n
    L("pipeline.cf_use_discard_ratio") = fold.count(_.use == "discard").toDouble / n
    L("pipeline.cf_quality_discard_ratio") = fold.count(_.quality == "discard").toDouble / n
    L("pipeline.reject_overrides") = fold.count(_.overridden).toDouble
    val p = passes.head
    L("pipeline.chatmodel.calls") = p.calls.toDouble
    L("pipeline.chatmodel.calls_per_sample") = p.calls.toDouble / n
    L("pipeline.chatmodel.batches") = p.batches.toDouble
    L("pipeline.chatmodel.nulls") = p.nulls.toDouble
    L("pipeline.chatmodel.null_ratio") = p.nulls.toDouble / p.calls
    L("pipeline.chatmodel.retries") = retriesPerPass
    val batchMs = passes.flatMap(_.batchLog.map(b => (b._2 - b._1) / 1e6))
    L("pipeline.chatmodel.batch_p50_ms") = Stats.median(batchMs)
    L("pipeline.chatmodel.busy_s") = Stats.median(passes.map(_.busyNanos / 1e9))
    L("pipeline.chatmodel.in_flight_mean") = Stats.median(passes.map { q =>
      q.busyNanos.toDouble / math.max(1L, Stats.unionLength(q.batchLog.map(b => (b._1, b._2))))
    })
    L("pipeline.chatmodel.in_flight_max") = passes.map(_.inFlightMax).max.toDouble
    val perCallMs = Stats.median(passes.map(q => q.busyNanos / 1e6 / q.calls))
    L("pipeline.chatmodel.overhead_ms") = perCallMs - (if (http) LatencyMs.toDouble else 0.0)

    val m = math.min(qa.length, 400)
    val convs = qa.take(m).map(q => Seq(Message("user", RefFold.ragPrompt(q))))
    val outs = convs.map(c => Llm.completion(c).getOrElse(""))
    val ns = kernelNs(outs, qa.take(m).map(q => RefFold.expandRefs(q.reference)))
    ns.foreach { case (kk, v) => L(kk) = v }
    // estimates from the reference path (RefFold's count of kernel calls),
    // not counted on the engine: for a given seed they move only with the
    // kernels' own speed and the executor CPU time
    L("text.ref_kernel_calls_per_sample") = fold.map(_.kernelCalls).sum.toDouble / n
    val matchNs = ns("text.emCompute_ns") + ns("text.tokenF1_ns") + ns("text.rougeL_ns")
    val kernelNsPerPass = fold.map(r => r.calls * ns("text.dealPrediction_ns") +
      (r.kernelCalls - r.calls) / 3.0 * matchNs).sum
    L("text.ref_kernel_cpu_share") = kernelNsPerPass / 1e9 / math.max(1e-9, L("spark.executor_cpu_s"))
    L("trace.overhead_share") =
      if (untraced.isEmpty) 0.0 else Stats.median(passes.map(_.seconds)) / Stats.median(untraced) - 1.0
    ctx.line(f"traced passes ${passes.length}, untraced ${untraced.length}, " +
      f"tracing overhead ${L("trace.overhead_share") * 100}%.2f %%")
  }
}
