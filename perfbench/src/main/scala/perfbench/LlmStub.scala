package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.etl.LlmHttp

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}
import scala.jdk.CollectionConverters._

/** A localhost Azure-shaped chat-completions endpoint with a fixed delay
  * per call. It answers `"[LLM_OUTPUT]" + text`, where `text` is the
  * user message with its `LlmHttp.Prompts` prefix stripped, so the live
  * client's output is byte-identical to the offline mock's.
  *
  * Keeps each call's interval and (lang, text) pair; run.py derives the
  * call count, in-flight maximum and useful-call ratio from them.
  */
final class LlmStub(delayMs: Long) {
  private val mapper = new ObjectMapper()
  /** (startMs, endMs, lang, text) per call */
  val calls = new ConcurrentLinkedQueue[(Long, Long, String, String)]()
  @volatile var failures = 0

  private val pool = Executors.newFixedThreadPool(32)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))

  private def handle(ex: HttpExchange): Unit = {
    val start = System.currentTimeMillis()
    var key = ("?", "")
    try {
      val req = mapper.readTree(ex.getRequestBody.readAllBytes())
      val user = req.path("messages").path(1).path("content").asText()
      val (lang, text) = LlmHttp.Prompts.collectFirst {
        case (l, (_, prefix)) if user.startsWith(prefix) => (l, user.substring(prefix.length))
      }.getOrElse(("?", user))
      if (lang == "?") failures += 1
      key = (lang, text)
      Thread.sleep(delayMs)
      val root = mapper.createObjectNode()
      root.putArray("choices").addObject().putObject("message")
        .put("role", "assistant").put("content", "[LLM_OUTPUT]" + text)
      val bytes = mapper.writeValueAsBytes(root)
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
    } catch {
      case e: Exception =>
        failures += 1
        val bytes = String.valueOf(e).getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(500, bytes.length)
        ex.getResponseBody.write(bytes)
    } finally {
      ex.close()
      calls.add((start, System.currentTimeMillis(), key._1, key._2))
    }
  }

  def start(): Unit = server.start()
  def endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
  }

  def toJson: Map[String, Any] = Map(
    "calls" -> calls.asScala.toSeq.map { case (s, e, l, t) => Seq(s, e, l, t) },
    "failures" -> failures)
}
