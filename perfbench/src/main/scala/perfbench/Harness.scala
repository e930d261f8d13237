package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import java.io.File
import scala.collection.mutable.ArrayBuffer

/** One benchmark run in one fresh JVM: set up several times (the first
  * from process launch), run one untimed warm-up per set-up and the
  * workload's further warm-ups, then a timed untraced window; with
  * `--trace 1` the heap is measured, then a traced window and the
  * per-layer probes follow. Raw samples go to `--out` as JSON; `run.py`
  * turns them into metrics and checks outputs.
  *
  * {{{
  * Harness --workload W --inputs DIR --out FILE --seconds S --trace 0|1
  *         --launch-ms EPOCH_MS --cpus N --setups K
  * }}}
  */
object Harness {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** One timed operation: a request or a batch pass. */
  final case class Op(id: Int, item: String, start: Long, end: Long,
                      ok: Boolean, error: String)

  /** A workload drives one kind of operation against a live session. */
  trait Workload {
    def setUp(spark: SparkSession): Unit = ()
    def tearDown(): Unit = ()
    /** Run one operation; throw or return an error message on failure. */
    def op(spark: SparkSession, id: Int, tracer: Option[Tracer]): (String, Option[String])
    /** Untimed operations over the window's first inputs, run after the
      * set-ups and outside them, so the window starts warm. */
    def warmups: Int = 0
    /** Per-layer probes run after the traced window. */
    def probe(spark: SparkSession, tracer: Tracer): Unit = ()
    /** Untimed output checks after the windows; facts for run.py. */
    def check(spark: SparkSession): Map[String, Any] = Map.empty
    /** Called at the start of each timed window. */
    def reset(): Unit = ()
    def stop(): Unit = ()
  }

  private def flag(argv: Array[String], name: String): Option[String] =
    argv.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(argv: Array[String]): Unit = {
    def arg(n: String) = flag(argv, n).getOrElse(sys.error(s"missing $n"))
    val inputs = new File(arg("--inputs"))
    val manifest = mapper.readTree(new File(inputs, "manifest.json"))
    val seconds = arg("--seconds").toDouble
    val trace = arg("--trace") == "1"
    val cpus = arg("--cpus").toInt
    val w: Workload = arg("--workload") match {
      case "request_serial" => new Requests(manifest, inputs, cpus)
      case "batch_corpus" => new Batch(manifest, inputs)
      case other => sys.error(s"unknown workload $other")
    }
    val out = run(w, arg("--launch-ms").toDouble, arg("--setups").toInt,
      cpus, seconds, trace)
    mapper.writeValue(new File(arg("--out")), out)
    // non-daemon Spark and HTTP threads must not keep the JVM alive
    System.exit(0)
  }

  def run(w: Workload, launchMs: Double, setups: Int, cpus: Int,
          seconds: Double, trace: Boolean): Map[String, Any] = {
    val setupS = ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (i <- 0 until setups) {
      if (spark != null) {
        w.tearDown()
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = if (i == 0) launchMs else System.currentTimeMillis().toDouble
      spark = graft.Conf.localSession(cpus)
      w.setUp(spark)
      val (_, err) = w.op(spark, -1 - i, None)
      err.foreach(e => sys.error(s"warm-up failed: $e"))
      setupS += (System.currentTimeMillis() - t0) / 1000.0
    }
    for (k <- 0 until w.warmups)
      w.op(spark, k, None)._2.foreach(e => sys.error(s"warm-up failed: $e"))
    // a traced run splits its time between an untraced and a traced
    // window, so the two can be compared for the tracing overhead
    val length = if (trace) seconds / 2 else seconds
    val (untracedStart, untraced) = window(spark, w, length, None)
    val traced = if (!trace) Map.empty[String, Any] else {
      val heap = Tracer.liveHeapMb()
      val tracer = new Tracer
      tracer.attach(spark)
      val c0 = Tracer.codegenCount
      val (_, ops) = window(spark, w, length, Some(tracer))
      val c1 = Tracer.codegenCount
      w.probe(spark, tracer)
      tracer.detach(spark)
      Map("ops" -> ops, "codegen_count" -> (c1 - c0), "live_heap_mb" -> heap,
        "jvm" -> Tracer.jvmStats(), "trace" -> tracer.toJson)
    }
    val checks = w.check(spark)
    w.stop()
    Map(
      "setup_s" -> setupS.toSeq,
      "ops" -> untraced,
      "window_start" -> untracedStart,
      "traced" -> traced,
      "checks" -> checks,
      "env" -> Map(
        "cpus" -> cpus,
        "spark" -> spark.version,
        "java" -> System.getProperty("java.version"),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0))
  }

  /** Closed loop: the next operation is issued when the last one
    * returns, until `seconds` have passed. An operation still running at
    * the deadline is not counted, but is waited for, so nothing leaks
    * into what runs next. Returns the window's start and its ops. */
  def window(spark: SparkSession, w: Workload, seconds: Double,
             tracer: Option[Tracer]): (Long, Seq[Op]) = {
    w.reset()
    val ops = ArrayBuffer[Op]()
    val opened = System.currentTimeMillis()
    val deadline = opened + (seconds * 1000).toLong
    var id = 0
    while (System.currentTimeMillis() < deadline) {
      val start = System.currentTimeMillis()
      val (item, err) =
        try w.op(spark, id, tracer)
        catch { case scala.util.control.NonFatal(e) => ("?", Some(e.toString)) }
      val end = System.currentTimeMillis()
      if (end <= deadline) ops += Op(id, item, start, end, err.isEmpty, err.getOrElse(""))
      id += 1
    }
    (opened, ops.toSeq)
  }

  def text(f: File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
}
