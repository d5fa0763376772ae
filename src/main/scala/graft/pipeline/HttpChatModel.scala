package graft.pipeline

import java.io.IOException
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.{CompletableFuture, CompletionException, ExecutionException, TimeUnit}
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.ObjectMapper

/** A8's network path as a real implementation: OpenAI-compatible
  * `chat/completions` over HTTP (the reference's chat path,
  * `llm_ours.py:45-57`, and 30s-timeout HTTP path, `llm_ours.py:68-82`).
  *
  * Retry semantics mirror `llm_ours.py:95-122` with one deliberate
  * deviation (SURVEY §4.1): the reference retries transient API errors
  * forever with a fixed 5 s sleep; a distributed engine must bound the
  * loop, so retries are capped at `maxRetries` and exhaustion degrades to
  * `None` — which flows into the reference's own null-prediction path
  * (`utils.py:205`). Unknown errors return `None` immediately, exactly
  * like the reference's generic `except` arm.
  *
  * Where the reference makes one blocking call per record
  * (`run_llm_ours.py:227`), [[complete]] sends every conversation of a
  * batch at once (`sendAsync`) and returns the results in batch order; the
  * rules above apply to each conversation on its own, and a retry waits on
  * a timer, not a thread. The batch is the in-flight bound: at most
  * `batchSize` requests per task under [[ChatModel.transform]].
  *
  * One client per deserialized model instance, i.e. per task under
  * [[ChatModel.transform]], so connections amortize across a partition's
  * rows.
  */
final class HttpChatModel(
    url: String,
    model: String,
    apiKey: String = "",             // llm_ours.py:6-9 (client api_key)
    maxTokens: Int = 256,            // run_llm_ours.py:61
    temperature: Double = 0.0,       // run_llm_ours.py:62
    timeoutMs: Long = 30000,         // llm_ours.py:79
    maxRetries: Int = 5,
    retryBackoffMs: Long = 5000      // llm_ours.py:104-116
) extends ChatModel.Model {

  @transient private lazy val client =
    HttpClient.newBuilder().connectTimeout(Duration.ofMillis(timeoutMs)).build()
  @transient private lazy val mapper = new ObjectMapper()
  @transient private lazy val backoff =
    CompletableFuture.delayedExecutor(retryBackoffMs, TimeUnit.MILLISECONDS)

  private def requestBody(messages: Seq[ChatModel.Message]): String = {
    val root = mapper.createObjectNode()
    root.put("model", model)
    root.put("max_tokens", maxTokens)
    root.put("temperature", temperature)
    val arr = root.putArray("messages")
    messages.foreach { m =>
      val o = arr.addObject()
      o.put("role", m.role)
      o.put("content", m.content)
    }
    mapper.writeValueAsString(root)
  }

  private def parseContent(body: String): Option[String] = {
    val root = mapper.readTree(body)
    val content = root.path("choices").path(0).path("message").path("content")
    if (content.isMissingNode || content.isNull) None else Some(content.asText())
  }

  /** Transient = retry (rate limit, unavailable, timeout-ish, connection);
    * anything else = give up with None. Fatal JVM errors propagate (a null
    * prediction must mean a model failure, not a hidden OOM). Async
    * failures arrive wrapped in `CompletionException`, so the cause is
    * classified, not the wrapper. */
  private def classify(resp: HttpResponse[String], err: Throwable): Either[Boolean, Option[String]] = {
    var e = err
    while (e.isInstanceOf[CompletionException] && e.getCause != null) e = e.getCause
    e match {
      case null => resp.statusCode() match {
        case 200 =>
          // a 200 with an unparseable body is a permanent give-up, not a
          // retry (the reference's generic except arm returns None
          // immediately); note JsonProcessingException IS an IOException,
          // so parse failures must not reach the transient arm below
          Right(try parseContent(resp.body()) catch { case NonFatal(_) => None })
        case 429 | 500 | 502 | 503 | 504 => Left(true) // transient -> retry
        case _ => Left(false) // permanent -> None
      }
      case _: IOException => Left(true) // HttpTimeoutException included
      case NonFatal(_) => Left(false)
      case fatal => throw fatal
    }
  }

  /** One conversation: send, and on a transient failure send again after
    * `retryBackoffMs` on a timer (no thread sleeps, so a 503 never holds
    * up the rest of its batch), up to `maxRetries` retries. Cancelling the
    * returned future stops further attempts and aborts the exchange in
    * flight. */
  private def converse(messages: Seq[ChatModel.Message]): CompletableFuture[Option[String]] = {
    val result = new CompletableFuture[Option[String]]()
    def attempt(n: Int): Unit = if (!result.isDone) {
      val sent =
        try {
          var builder = HttpRequest.newBuilder(URI.create(url))
            .timeout(Duration.ofMillis(timeoutMs))
            .header("Content-Type", "application/json")
          if (apiKey.nonEmpty) builder = builder.header("Authorization", s"Bearer $apiKey")
          val req = builder
            .POST(HttpRequest.BodyPublishers.ofString(requestBody(messages)))
            .build()
          client.sendAsync(req, HttpResponse.BodyHandlers.ofString())
        } catch { case NonFatal(e) => CompletableFuture.failedFuture[HttpResponse[String]](e) }
      result.whenComplete((_, _) => sent.cancel(true))
      sent.whenComplete { (resp, err) =>
        try classify(resp, err) match {
          case Right(r) => result.complete(r)
          case Left(true) if n < maxRetries => backoff.execute(() => attempt(n + 1))
          case Left(_) => result.complete(None)
        } catch { case t: Throwable => result.completeExceptionally(t) }
      }
    }
    attempt(0)
    result
  }

  /** Sends every conversation of the batch at once and returns the
    * results in batch order, so a batch costs about one round trip rather
    * than one per row. Interrupting the calling thread (Spark task
    * cancellation) cancels the pending calls and rethrows, interrupt flag
    * kept. */
  override def complete(batch: Seq[Seq[ChatModel.Message]]): Seq[Option[String]] = {
    val pending = batch.iterator.map(converse).toVector
    try pending.map(_.get())
    catch {
      case e: InterruptedException =>
        Thread.currentThread().interrupt()
        throw new RuntimeException("LLM call interrupted (task cancellation)", e)
      case e: ExecutionException => throw e.getCause
    } finally pending.foreach(_.cancel(true))
  }
}
