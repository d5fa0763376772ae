package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

/** A8 network-path spec against a localhost fake OpenAI-compatible server
  * (JDK HttpServer — zero egress): success parse, 429-then-success retry,
  * permanent-failure -> None, bounded retry exhaustion -> None; and, with
  * a batch sent concurrently, input order, overlap, per-conversation
  * retries and task cancellation. */
class HttpChatModelSpec extends AnyFunSuite {

  /** The handler gets the exchange and its 1-based arrival index; it runs
    * on a pool, so it may block without holding up other requests. */
  private def withServer(handler: (HttpExchange, Int) => Unit)(f: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val pool = Executors.newCachedThreadPool()
    val calls = new AtomicInteger(0)
    server.setExecutor(pool)
    server.createContext("/v1/chat/completions", (ex: HttpExchange) =>
      handler(ex, calls.incrementAndGet()))
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/v1/chat/completions")
    finally { server.stop(0); pool.shutdownNow() }
  }

  /** The user prompt of the request (the specs below send `c<i>`). */
  private def prompt(ex: HttpExchange): String = {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    """c\d+""".r.findFirstIn(body).getOrElse("")
  }

  private def completion(text: String): String =
    s"""{"choices":[{"message":{"role":"assistant","content":"$text"}}]}"""

  private def batchOf(n: Int) = (0 until n).map(i => Seq(ChatModel.Message("user", s"c$i")))

  private def reply(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private val okBody =
    """{"choices":[{"message":{"role":"assistant","content":"Answer: apple."}}]}"""

  private def msgs = Seq(Seq(ChatModel.Message("user", "What fruit?")))

  test("parses an OpenAI-compatible completion") {
    withServer((ex, _) => reply(ex, 200, okBody)) { url =>
      val m = new HttpChatModel(url, "test-model", retryBackoffMs = 1)
      assert(m.complete(msgs) == Seq(Some("Answer: apple.")))
    }
  }

  test("429 retries with backoff until success (llm_ours.py rate-limit arm)") {
    withServer((ex, n) =>
      if (n <= 2) reply(ex, 429, """{"error":"rate limit"}""")
      else reply(ex, 200, okBody)) { url =>
      val m = new HttpChatModel(url, "m", retryBackoffMs = 1, maxRetries = 5)
      assert(m.complete(msgs) == Seq(Some("Answer: apple.")))
    }
  }

  test("permanent error returns None immediately (generic except arm)") {
    val hits = new AtomicInteger(0)
    withServer((ex, _) => { hits.incrementAndGet(); reply(ex, 400, """{"error":"bad"}""") }) { url =>
      val m = new HttpChatModel(url, "m", retryBackoffMs = 1, maxRetries = 5)
      assert(m.complete(msgs) == Seq(None))
      assert(hits.get() == 1) // no retry on permanent failures
    }
  }

  test("bounded retry exhaustion degrades to None (deviation: bounded loop)") {
    val hits = new AtomicInteger(0)
    withServer((ex, _) => { hits.incrementAndGet(); reply(ex, 503, """{"error":"down"}""") }) { url =>
      val m = new HttpChatModel(url, "m", retryBackoffMs = 1, maxRetries = 2)
      assert(m.complete(msgs) == Seq(None))
      assert(hits.get() == 3) // initial try + 2 retries
    }
  }

  test("malformed body yields None, not an exception") {
    withServer((ex, _) => reply(ex, 200, """{"unexpected": true}""")) { url =>
      val m = new HttpChatModel(url, "m", retryBackoffMs = 1)
      assert(m.complete(msgs) == Seq(None))
    }
  }

  test("a concurrent batch overlaps its requests and keeps input order") {
    val n = 8
    val delayMs = 200L
    val arrived = new CountDownLatch(n)
    val replied = Array.fill(n + 2)(new CountDownLatch(1))
    replied(n + 1).countDown()
    val current, peak = new AtomicInteger(0)
    withServer { (ex, k) =>
      peak.accumulateAndGet(current.incrementAndGet(), math.max)
      val p = prompt(ex)
      arrived.countDown()
      arrived.await(5, TimeUnit.SECONDS)
      Thread.sleep(delayMs)
      replied(k + 1).await(5, TimeUnit.SECONDS) // reverse arrival order
      current.decrementAndGet()
      reply(ex, 200, completion(s"Answer: $p."))
      replied(k).countDown()
    } { url =>
      val m = new HttpChatModel(url, "m", retryBackoffMs = 1)
      val t0 = System.nanoTime()
      val out = m.complete(batchOf(n))
      val elapsedMs = (System.nanoTime() - t0) / 1000000
      assert(out == (0 until n).map(i => Some(s"Answer: c$i.")))
      assert(peak.get() == n)
      assert(elapsedMs < 3 * delayMs, s"batch of $n took $elapsedMs ms")
    }
  }

  test("mixed failures in one concurrent batch keep per-conversation retry rules") {
    val hits = new ConcurrentHashMap[String, AtomicInteger]()
    withServer { (ex, _) =>
      val p = prompt(ex)
      val hit = hits.computeIfAbsent(p, _ => new AtomicInteger(0)).incrementAndGet()
      p match {
        case "c0" if hit == 1 => reply(ex, 503, """{"error":"down"}""")
        case "c1" => reply(ex, 400, """{"error":"bad"}""")
        case "c2" => reply(ex, 503, """{"error":"down"}""")
        case _ => reply(ex, 200, completion(s"Answer: $p."))
      }
    } { url =>
      val m = new HttpChatModel(url, "m", retryBackoffMs = 10, maxRetries = 2)
      assert(m.complete(batchOf(4)) == Seq(Some("Answer: c0."), None, None, Some("Answer: c3.")))
      assert((0 until 4).map(i => hits.get(s"c$i").get()) == Seq(2, 1, 3, 1))
    }
  }

  test("interrupting the caller cancels the batch and keeps the interrupt flag") {
    val arrived = new CountDownLatch(2)
    withServer((_, _) => arrived.countDown()) { url => // never answers
      val m = new HttpChatModel(url, "m", retryBackoffMs = 1)
      val thrown = new AtomicReference[Throwable]()
      val flagKept = new AtomicReference[Boolean](false)
      val caller = new Thread(() =>
        try m.complete(batchOf(2))
        catch { case t: Throwable =>
          thrown.set(t)
          flagKept.set(Thread.currentThread().isInterrupted)
        })
      caller.start()
      assert(arrived.await(5, TimeUnit.SECONDS))
      val t0 = System.nanoTime()
      caller.interrupt()
      caller.join(5000)
      val elapsedMs = (System.nanoTime() - t0) / 1000000
      assert(!caller.isAlive)
      assert(elapsedMs < 1000, s"interrupt took $elapsedMs ms to surface")
      assert(thrown.get().isInstanceOf[RuntimeException])
      assert(thrown.get().getMessage.contains("LLM call interrupted"))
      assert(flagKept.get())
    }
  }
}
