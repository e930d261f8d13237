package perfbench

import com.fasterxml.jackson.databind.JsonNode
import com.sun.net.httpserver.HttpServer
import graft.{Serve, SparkEntry}
import graft.etl._
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import Harness.{Workload, text}

/** Force every row of `df` with an order-independent hash, as
  * `graft.Bench` does, without shipping rows to the driver. */
object Materialize {
  def apply(df: DataFrame): Unit = {
    try df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
      .agg(expr("bit_xor(h)")).collect()
    catch { case _: AnalysisException => df.count() }
    ()
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** `POST /process` through `Serve.startServer` from one closed-loop
  * client over one HTTP/1.1 client. */
final class Requests(m: JsonNode, dir: File, burst: Int) extends Workload {
  private val bodies = m.path("bodies").elements().asScala.map { b =>
    (b.path("id").asText(), text(new File(dir, b.path("file").asText())),
      b.path("records").asInt())
  }.toVector
  private val warm = m.path("warmup_body").asInt()
  private var http = newClient()
  private val firstResponse = mutable.Map[String, String]()
  private var server: HttpServer = _

  /** The first requests after a set-up run slower while the JIT warms. */
  override def warmups: Int = 3

  override def setUp(spark: SparkSession): Unit = server = Serve.startServer(spark, 0)

  /** Fresh connections per window: a keep-alive connection left idle
    * across the pause between windows is not part of the closed loop. */
  override def reset(): Unit = http = newClient()
  private def newClient() = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  override def tearDown(): Unit = server.stop(0)

  private def send(body: String): HttpResponse[String] =
    http.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${server.getAddress.getPort}/process"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body, UTF_8)).build(),
      HttpResponse.BodyHandlers.ofString(UTF_8))

  def op(spark: SparkSession, id: Int, tracer: Option[Tracer]): (String, Option[String]) = {
    val (name, body, records) = bodies(if (id < 0) warm else id % bodies.size)
    val resp = send(body)
    val err =
      if (resp.statusCode() != 200) Some(s"HTTP ${resp.statusCode()}: ${resp.body().take(200)}")
      else {
        val reports = Harness.mapper.readTree(resp.body()).path("rows").size()
        val earlier = firstResponse.getOrElseUpdate(name, resp.body())
        if (reports != records) Some(s"$reports reports for $records records")
        else if (earlier != resp.body())
          Some("response bytes differ from an earlier response to the same body")
        else None
      }
    (name, err)
  }

  /** For the first three bodies: the alone-service time over HTTP and
    * the bare `Pipeline.run` span (fallback dims and the mock LLM, as
    * the server runs it); then one burst of `burst` concurrent requests
    * over the same bodies, for the dispatcher's queueing; then one
    * untimed and one traced store maintenance cycle over the documents
    * table, so the graft.ops store layers are traced warm. */
  override def probe(spark: SparkSession, tracer: Tracer): Unit = {
    reset()
    val probed = 0 until math.min(3, bodies.size)
    for (i <- probed) {
      val body = bodies(i)._2
      tracer.span("serve.alone", i)(send(body))
      tracer.span("pipeline.run", i)(Pipeline.run(spark, body).collect())
    }
    val threads = (0 until burst).map { k =>
      val i = probed(k % probed.size)
      val t = new Thread(() => tracer.span("serve.burst", i)(send(bodies(i)._2)))
      t.start()
      t
    }
    threads.foreach(_.join())
    val docs = new File(dir, m.path("docs_dir").asText()).getPath
    Maintenance.cycle(spark, docs, -1, None)
    Maintenance.cycle(spark, docs, 0, Some(tracer))
  }

  override def check(spark: SparkSession): Map[String, Any] =
    Map("responses" -> firstResponse.toMap)

  override def stop(): Unit = server.stop(0)
}

/** `Ingest.parseBodies` over a JSONL corpus → `Pipeline.runDistributed`
  * → `Sinks.writeReportJsonl`, one full pass per operation. */
final class Batch(m: JsonNode, dir: File) extends Workload {
  private val corpus = new File(dir, m.path("corpus").asText()).getPath
  private val warmup = new File(dir, m.path("warmup_corpus").asText()).getPath
  private val outRoot = new File(dir, "out")
  private var last: Option[File] = None
  private var llm = Map.empty[String, Any]

  private def records(spark: SparkSession, path: String = corpus): DataFrame =
    Ingest.parseBodies(spark.read.textFile(path))

  /** A pass over the corpus; the warm-up passes read the small one. */
  def op(spark: SparkSession, id: Int, tracer: Option[Tracer]): (String, Option[String]) = {
    val out = new File(outRoot, s"pass$id")
    Sinks.writeReportJsonl(
      Pipeline.runDistributed(records(spark, if (id < 0) warmup else corpus)), out.getPath)
    if (id < 0) Materialize.deleteTree(out)
    else {
      last.foreach(Materialize.deleteTree)
      last = Some(out)
    }
    ("corpus", None)
  }

  /** Per-layer probes: prefix differencing over the public stage chain
    * (each prefix forced on its own; a stage's self time is its prefix
    * minus the previous one, computed by run.py; mirrors
    * `runDistributed`), then the LLM rewrite operator against the stub. */
  override def probe(spark: SparkSession, tracer: Tracer): Unit = {
    def fact = Ingest.flatten(records(spark))
    def cleaned = {
      val f = fact
      Clean.clean(Enrich.enrich(f, Dims.fallback(f).restrictedTo(f)))
    }
    def report = {
      val c = cleaned
      Report.reportJoined(c, Ingest.requestEcho(records(spark)), Llm.rewriteFrame(c))
    }
    val prefixes: Seq[(String, () => Unit)] = Seq(
      "ingest" -> (() => Materialize(fact)),
      "enrich" -> (() => { val f = fact
        Materialize(Enrich.enrich(f, Dims.fallback(f).restrictedTo(f))) }),
      "clean" -> (() => Materialize(cleaned)),
      "llm" -> (() => Materialize(Llm.rewriteFrame(cleaned))),
      "report" -> (() => Materialize(report)),
      "sinks" -> (() => {
        val out = new File(outRoot, "probe")
        Sinks.writeReportJsonl(report, out.getPath)
        Materialize.deleteTree(out)
      }))
    for ((stage, run) <- prefixes) tracer.span(s"prefix.$stage", 0)(run())
    llmProbe(spark, tracer)
  }

  /** The rewrite operator with the live HTTP client against the stub:
    * `Llm.rewritePairs` over the corpus's first distinct (language,
    * comment) pairs. Every answer must equal the mock client's, and the
    * stub must have answered exactly the pairs that are not a default
    * sentence, once each (the client falls back to the input text when
    * a call fails, so equal answers alone would not prove it called). */
  private def llmProbe(spark: SparkSession, tracer: Tracer): Unit = {
    import spark.implicits._
    val stub = new LlmStub(m.path("stub_delay_ms").asLong())
    stub.start()
    val client = new LlmHttp.HttpRewriteClient(stub.endpoint, "perfbench")
    val pairs = Ingest.flatten(records(spark))
      .select(col("LANG_NO").cast("string"), expr("trim(COMMENT)"))
      .distinct().orderBy(col("LANG_NO"), expr("trim(COMMENT)"))
      .limit(m.path("llm_pairs").asInt()).as[(String, String)].collect().toSeq
    def rewrite(c: Llm.RewriteClient) =
      Llm.rewritePairs(pairs.toDS(), c).collect().toSet
    val live = tracer.span("llm.probe", 0)(rewrite(client))
    stub.stop()
    val mock = rewrite(Llm.MockClient)
    val expected = mock.collect { case (l, t, _) if !Schemas.LANG_DEFAULT_TEXTS.contains(t) =>
      (l, t) }
    val answered = stub.calls.asScala.toSeq.map { case (_, _, l, t) => (l, t) }
    llm = stub.toJson ++ Map(
      "mismatches" -> ((live -- mock).size + (mock -- live).size),
      "expected_calls" -> expected.size,
      "calls_match" -> (answered.size == expected.size && answered.toSet == expected))
  }

  override def check(spark: SparkSession): Map[String, Any] =
    Map("report_dir" -> last.map(_.getPath).getOrElse(""), "llm" -> llm)
}

/** The nightly maintenance pipelines p05, p06, p08 and p12: for each,
  * `SparkEntry.phases` publish (build the persisted store) then serve
  * (read it back, materialized). */
object Maintenance {
  val keys = Seq("p05_incremental_maintenance", "p06_search_maintenance",
    "p08_media_maintenance", "p12_delete_lifecycle")
  lazy val phases = SparkEntry.phases

  /** Publish then serve each pipeline over the documents in `docs`. */
  def cycle(spark: SparkSession, docs: String, id: Int, tracer: Option[Tracer]): Unit = {
    def timed(name: String)(body: => Unit): Unit =
      tracer.fold(body)(_.span(name, id, "cycle")(body))
    keys.foreach { k =>
      val (publish, serve) = phases(k)
      timed(s"${k.take(3)}.publish")(publish(spark, docs))
      timed(s"${k.take(3)}.serve")(Materialize(serve(spark, docs)))
    }
  }
}
