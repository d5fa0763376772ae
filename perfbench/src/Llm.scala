package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.pipeline.{ChatModel, Prompts}
import graft.pipeline.ChatModel.Message

/** The LLM the RC-RAG workloads talk to: one pure function of the
  * conversation ([[outcome]]), served two ways — in process
  * ([[Twin]], 0 ms) and over loopback HTTP ([[StubServer]], the
  * OpenAI-compatible endpoint [[graft.pipeline.HttpChatModel]] calls). Both
  * give the same completions, so the two workloads produce the same
  * decisions and risk metrics for the same seed.
  *
  * The behaviour of a sample is its slot (`[case N]` in the question),
  * which the generator assigns through a seeded permutation of
  * [[Slots]] slots. Per 200 samples: 50 % answered correctly (label keep),
  * 25 % with disagreeing counterfactual branches (probability fusion
  * runs), 5 % refusals (reject override), and injected failures on about
  * 2 % of calls (503 once, then success) and 0.6 % (400, the call ends
  * `None`).
  */
object Llm {

  val Slots = 200

  sealed trait Outcome
  final case class Ok(text: String) extends Outcome
  /** 503 on the first attempt, then `text`. */
  final case class TransientOnce(text: String) extends Outcome
  /** 400 on every attempt: the call ends `None`. */
  case object Permanent extends Outcome

  final case class Behaviour(reject: Boolean, correct: Boolean, useKeep: Boolean,
                             qualityKeep: Boolean, pUse: String, pQuality: String,
                             transientAt: String, permanentAt: String)

  val behaviours: Array[Behaviour] = Array.tabulate(Slots) { s =>
    val transientAt = s % 25 match { case 3 => "rag"; case 7 => "cf_use"; case _ => "" }
    val permanentAt = s match {
      case 150 | 151 => "rag"; case 60 | 61 => "cf_quality"; case _ => "" }
    if (s < 10) Behaviour(reject = true, correct = false, useKeep = true, qualityKeep = true,
      "0.5", "0.5", transientAt, permanentAt)
    else {
      val h = ((s - 10) * 37) % 190
      val (u, q) = if (h < 80) (true, true) else if (h < 140) (false, false)
        else if (h < 165) (true, false) else (false, true)
      val (pu, pq) = s % 3 match { case 0 => ("0.8", "0.3"); case 1 => ("0.3", "0.8"); case _ => ("0.5", "0.5") }
      Behaviour(reject = false, correct = s - 10 < 100, u, q, pu, pq, transientAt, permanentAt)
    }
  }

  /** The word after the first occurrence of `phrase` in `passage`. */
  def answerAfter(passage: String, phrase: String): String = {
    val p = (" " + passage + " ").indexOf(" " + phrase + " ")
    val rest = passage.substring(p + phrase.length + 1)
    val sp = rest.indexOf(' ')
    if (sp < 0) rest else rest.substring(0, sp)
  }

  /** A wrong answer: a letter no vocabulary word uses (one per turn, so
    * answers of different turns never collide) + four digits. It never
    * matches a reference or another turn's answer. */
  private def wrong(letter: Char, salt: String): String =
    letter.toString + (1000 + (scala.util.hashing.MurmurHash3.stringHash(salt) & 0x7fffffff) % 9000)

  private val RagPrefix = Prompts.templates("rag").takeWhile(_ != '{')
  private val UsePrefix = Prompts.templates("cf_use")
  private val QualityPrefix = Prompts.templates("cf_quality")
  private val ProbPrefix = Prompts.templates("fusion_probability")

  private def between(s: String, from: String, to: String): String = {
    val a = s.indexOf(from) + from.length
    val b = s.indexOf(to, a)
    s.substring(a, if (b < 0) s.length else b)
  }

  def slotOf(firstPrompt: String): Int = between(firstPrompt, "[case ", "]").toInt

  private def evidence(i: Int) = s"\nEvidence: ## Passage-$i ##."

  /** The stub LLM: a pure function of the conversation. */
  def outcome(msgs: Seq[Message]): Outcome = {
    val first = msgs.head.content
    val last = msgs.last.content
    val b = behaviours(slotOf(first))
    val (turn, text) =
      if (last.startsWith(RagPrefix)) {
        val phrase = between(first, "follows '", "'")
        val passage0 = between(first, "Passages: Passage-0", "\nPassage-1")
        "rag" -> (
          if (b.reject) "Answer: Unknown." + evidence(0)
          else if (b.correct) s"Answer: ${answerAfter(passage0, phrase)}." + evidence(0)
          else s"Answer: ${wrong('q', first)}." + evidence(1))
      } else if (last.startsWith(UsePrefix) || last.startsWith(QualityPrefix)) {
        val use = last.startsWith(UsePrefix)
        val ragAnswer = msgs(1).content
        val keep = if (use) b.useKeep else b.qualityKeep
        (if (use) "cf_use" else "cf_quality") -> (
          if (keep) s"Answer: $ragAnswer" + evidence(0)
          else s"Answer: ${wrong(if (use) 'x' else 'j', ragAnswer)}." + evidence(2))
      } else if (last.startsWith(ProbPrefix)) {
        val use = msgs(2).content.startsWith(UsePrefix)
        "fusion" -> s"Probability: ${if (use) b.pUse else b.pQuality}"
      } else "other" -> "Answer: none."
    if (b.permanentAt == turn) Permanent
    else if (b.transientAt == turn) TransientOnce(text)
    else Ok(text)
  }

  def completion(msgs: Seq[Message]): Option[String] = outcome(msgs) match {
    case Ok(t) => Some(t)
    case TransientOnce(t) => Some(t)
    case Permanent => None
  }

  /** The in-process twin of the HTTP stub (0 ms latency). */
  final class Twin extends ChatModel.Model {
    override def complete(batch: Seq[Seq[Message]]): Seq[Option[String]] = batch.map(completion)
  }

  /** JVM-wide counters of the LLM boundary (the workloads run in local
    * mode, so executors share this JVM). */
  object Meter {
    val calls = new AtomicLong
    val batches = new AtomicLong
    val nulls = new AtomicLong
    val busyNanos = new AtomicLong
    val inFlight = new AtomicInteger
    val inFlightMax = new AtomicInteger
    /** (start, end, batch size) per batch; filled only when tracing. */
    val batchLog = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Int)]

    def reset(): Unit = {
      Seq(calls, batches, nulls, busyNanos).foreach(_.set(0))
      inFlight.set(0); inFlightMax.set(0); batchLog.clear()
    }
  }

  /** Delegating model that counts what crosses the LLM boundary and, when
    * tracing, records one executor-side span per batch linked to the
    * driver phase that ran it (Spark local property [[Trace.PhaseProp]]). */
  final class Metered(inner: ChatModel.Model) extends ChatModel.Model {
    override def complete(batch: Seq[Seq[Message]]): Seq[Option[String]] = {
      val now = Meter.inFlight.incrementAndGet()
      Meter.inFlightMax.accumulateAndGet(now, math.max)
      val t0 = System.nanoTime()
      try {
        val out = inner.complete(batch)
        val t1 = System.nanoTime()
        Meter.calls.addAndGet(batch.size)
        Meter.batches.incrementAndGet()
        Meter.nulls.addAndGet(out.count(_.isEmpty))
        Meter.busyNanos.addAndGet(t1 - t0)
        if (Trace.enabled) {
          Meter.batchLog.add((t0, t1, batch.size))
          val tc = org.apache.spark.TaskContext.get()
          val parent = if (tc == null) null else tc.getLocalProperty(Trace.PhaseProp)
          Trace.span("pipeline.chatmodel.complete", t0, t1, parent)
        }
        out
      } finally Meter.inFlight.decrementAndGet()
    }
  }

  /** Loopback OpenAI-compatible `chat/completions` stub. Replies are
    * delayed on a timer (no thread sleeps per request, so the server never
    * caps the client's in-flight count) and written in a single write with
    * TCP_NODELAY (`-Dsun.net.httpserver.nodelay=true`), so the server adds
    * about a millisecond per call at 0 ms injected latency. */
  final class StubServer(@volatile var latencyMs: Long) {
    private val mapper = new ObjectMapper()
    private val failedOnce = ConcurrentHashMap.newKeySet[String]()
    /** 503 replies served: the client's retries. */
    val retries = new AtomicLong
    private val timer: ScheduledExecutorService = Executors.newScheduledThreadPool(2)
    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
    server.setExecutor(Executors.newFixedThreadPool(4))
    server.createContext("/v1/chat/completions", (ex: HttpExchange) => handle(ex))
    server.start()

    def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/v1/chat/completions"

    /** Forget which conversations already failed once (call per pass). */
    def resetEpoch(): Unit = failedOnce.clear()

    private def handle(ex: HttpExchange): Unit = {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val (status, payload) =
        try {
          val arr = mapper.readTree(body).path("messages")
          val msgs = (0 until arr.size()).map { i =>
            val m = arr.get(i)
            Message(m.path("role").asText(), m.path("content").asText())
          }
          outcome(msgs) match {
            case Permanent =>
              400 -> """{"error":{"message":"bad request"}}"""
            case TransientOnce(_) if failedOnce.add(body) =>
              retries.incrementAndGet()
              503 -> """{"error":{"message":"unavailable"}}"""
            case Ok(t) => 200 -> reply(t)
            case TransientOnce(t) => 200 -> reply(t)
          }
        } catch { case scala.util.control.NonFatal(e) => 500 -> s"""{"error":"${e.getClass.getSimpleName}"}""" }
      val bytes = payload.getBytes(StandardCharsets.UTF_8)
      val send: Runnable = () => {
        try {
          ex.getResponseHeaders.set("Content-Type", "application/json")
          ex.sendResponseHeaders(status, bytes.length)
          val os = ex.getResponseBody
          os.write(bytes)
          os.close()
        } catch { case scala.util.control.NonFatal(_) => () }
        finally ex.close()
      }
      if (latencyMs <= 0) send.run() else timer.schedule(send, latencyMs, TimeUnit.MILLISECONDS)
    }

    private def reply(text: String): String = {
      val root = mapper.createObjectNode()
      val msg = root.putArray("choices").addObject().putObject("message")
      msg.put("role", "assistant")
      msg.put("content", text)
      mapper.writeValueAsString(root)
    }

    def stop(): Unit = {
      server.stop(0)
      timer.shutdownNow()
      server.getExecutor match {
        case e: java.util.concurrent.ExecutorService => e.shutdownNow()
        case _ => ()
      }
    }
  }
}
