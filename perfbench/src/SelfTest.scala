package perfbench

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import scala.collection.mutable
import scala.io.Source
import com.fasterxml.jackson.databind.ObjectMapper
import graft.pipeline.ChatModel
import graft.pipeline.ChatModel.Message

/** The benchmark's own tests: `python3 perfbench/run.py --selftest`.
  * Pins the reference fold to the committed q40/q46 goldens, the
  * generators to their seeds, the tail-percentile rule, and the stub
  * server's cost and failure behaviour. Exit code 1 on any failure.
  */
object SelfTest {

  private val failures = mutable.ArrayBuffer.empty[String]

  private def check(name: String)(ok: => Boolean): Unit = {
    val r = try ok catch { case scala.util.control.NonFatal(e) => System.err.println(e); false }
    println(s"${if (r) "ok  " else "FAIL"} $name")
    if (!r) failures += name
  }

  def main(args: Array[String]): Unit = {
    val root = new File(args.headOption.getOrElse("."))
    val res = new File(root, "src/test/resources")
    val mapper = new ObjectMapper()
    def jsonl(name: String) = {
      val src = Source.fromFile(new File(res, name), "UTF-8")
      try src.getLines().filter(_.trim.nonEmpty).map(mapper.readTree).toVector finally src.close()
    }
    def strings(n: com.fasterxml.jackson.databind.JsonNode) =
      (0 until n.size()).map(i => n.get(i).asText())

    check("fold, safety mode, reproduces q40's golden AK=3 AD=10 UK=2 UD=9") {
      val rows = jsonl("rag_results.jsonl").map { j =>
        (j.path("label_decision").asText(), j.path("cf_use").path("pred_decision").asText(),
          j.path("cf_quality").path("pred_decision").asText(), j.path("rag").path("reject").asBoolean())
      }
      RefFold.safetyEval(rows) == RefFold.Confusion(3, 10, 2, 9)
    }

    check("fold, safety mode, reproduces q46's expected decisions") {
      val stub = new ChatModel.DeterministicStub(Map(
        "Question:" -> "Answer: apple.\nEvidence: ## Passage-0 ##.",
        "improper use" -> "Answer: apple!\nEvidence: ## Passage-0 ##.",
        "quality of your referred passages" -> "Answer: apple?\nEvidence: ## Passage-1 ##."))
      val qa = jsonl("qa_samples.jsonl").map { j =>
        Gen.Qa(j.path("id").asLong(), j.path("question").asText(), strings(j.path("reference")),
          strings(j.path("sparse_ctxs")), strings(j.path("dense_ctxs")), strings(j.path("gold_ctxs")))
      }
      val got = qa.map(q => RefFold.sample(q, m => stub.complete(Seq(m)).head, "safety"))
        .map(r => (r.id, r.label, r.pred, r.ragAnswer))
      val spark = Main.session(new File(root, ".bench_build/selftest"))
      try {
        val want = spark.read.parquet(new File(res, "q46_expected.parquet").getAbsolutePath)
          .select("id", "label_decision", "pred_decision", "rag_answer").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).sortBy(_._1).toSeq
        got.sortBy(_._1) == want
      } finally spark.stop()
    }

    check("generators give identical inputs for the same seed and different ones for another") {
      def all(seed: Long) = {
        val v = Gen.vocabulary(seed, 400)
        val d = Gen.documents(seed, 300, v)
        val live = d.zipWithIndex.map { case (t, i) => i.toLong -> t }.toMap
        (v.toSeq, d.toSeq, Gen.qaSamples(seed, 400, d, v).toSeq,
          Gen.cdcBatch(Gen.rng(seed, 5), live, 300L, 10, 10, v),
          Gen.embeddings(seed, 50, 8, 4).map { case (i, e, l) => (i, e.toSeq, l) }.toSeq)
      }
      all(7) == all(7) && all(7) != all(8)
    }

    check("vocabulary words are substring-free with distinct stems") {
      val v = Gen.vocabulary(3, 1200)
      val stems = v.map(w => graft.text.TextKernels.rougeTokenize(w).mkString(" "))
      stems.distinct.length == v.length &&
        v.forall(a => v.forall(b => a == b || !a.contains(b)))
    }

    check("the stub's decision mix is in the target ranges") {
      val v = Gen.vocabulary(5, 1200)
      val d = Gen.documents(5, 2000, v)
      val rows = Gen.qaSamples(5, Llm.Slots * 2, d, v).map(RefFold.sample(_, Llm.completion))
      val n = rows.length.toDouble
      val keep = rows.count(_.label == "keep") / n
      val disagree = rows.count(r => r.use != r.quality) / n
      val calls = rows.map(_.calls).sum.toDouble
      println(f"     label keep $keep%.3f, disagreement $disagree%.3f, reject " +
        f"${rows.count(_.ragReject) / n}%.3f, overrides ${rows.count(_.overridden)}, calls/sample ${calls / n}%.3f")
      keep >= 0.3 && keep <= 0.7 && disagree >= 0.15 && disagree <= 0.4 &&
        rows.count(_.ragReject) > 0 && rows.count(_.overridden) > 0
    }

    check("tail percentile leaves at least ten samples beyond it") {
      def beyond(xs: Seq[Double], v: Double) = xs.count(_ > v)
      val cases = Seq(19 -> None, 20 -> Some(50.0), 100 -> Some(90.0), 199 -> Some(90.0),
        200 -> Some(95.0), 1000 -> Some(99.0), 10000 -> Some(99.9))
      cases.forall { case (n, want) =>
        val xs = (1 to n).map(_.toDouble)
        val t = Stats.tail(xs)
        t.map(_._1) == want && t.forall { case (_, v) => beyond(xs, v) >= 10 }
      }
    }

    val server = new Llm.StubServer(0)
    try {
      check("stub adds at most 3 ms per call at 0 ms injected latency") {
        // on a warm client, as rcrag_llm measures it after its timed passes
        val client = RcRag.stubClient(server)
        RcRag.calibrateMs(server, client, 1000)
        val ms = RcRag.calibrateMs(server, client, 300)
        println(f"     $ms%.3f ms per call")
        ms <= 3.0
      }
      val http = HttpClient.newHttpClient()
      def post(slot: Int, turnPrompt: String): Int = {
        val conv = Seq(Message("user", s"[case $slot] Which word follows 'ab cd'?\nPassages: " +
          "Passage-0ab cd ef\nPassage-1x\nAnswer: "))
        val body = s"""{"model":"stub","messages":[{"role":"user","content":${mapper.writeValueAsString(
          if (turnPrompt.isEmpty) conv.head.content else turnPrompt)}}]}"""
        http.send(HttpRequest.newBuilder(URI.create(server.url))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString()).statusCode()
      }
      val ragPrefix = graft.pipeline.Prompts.templates("rag").takeWhile(_ != '{')
      def ragTurn(slot: Int) = s"${ragPrefix}Question: [case $slot] Which word follows 'ab cd'?\n" +
        "Passages: Passage-0ab cd ef\nPassage-1x\nAnswer: "
      check("stub: a transient slot answers 503 once, then 200") {
        server.resetEpoch()
        Seq(post(3, ragTurn(3)), post(3, ragTurn(3))) == Seq(503, 200)
      }
      check("stub: a permanent slot answers 400 every time") {
        Seq(post(150, ragTurn(150)), post(150, ragTurn(150))) == Seq(400, 400)
      }
      check("HttpChatModel through the stub equals the in-process twin") {
        server.resetEpoch()
        val client = RcRag.stubClient(server)
        val v = Gen.vocabulary(9, 600)
        val d = Gen.documents(9, 500, v)
        val convs = Gen.qaSamples(9, Llm.Slots, d, v).map(q => Seq(Message("user", RefFold.ragPrompt(q)))).toSeq
        val before = server.retries.get
        val same = client.complete(convs) == new Llm.Twin().complete(convs)
        same && server.retries.get - before == Llm.behaviours.count(_.transientAt == "rag")
      }
    } finally server.stop()

    println(if (failures.isEmpty) "selftest: all passed" else s"selftest: ${failures.length} failed")
    System.exit(if (failures.isEmpty) 0 else 1)
  }
}
