package perfbench

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

/** Observes the engine from outside: a SparkListener (jobs, stages,
  * task metrics), a QueryExecutionListener (Catalyst phase times), the
  * codegen compile log, JMX, and the benchmark's own spans.
  *
  * Everything is appended to in-memory buffers with epoch-ms stamps and
  * written out once when the run ends; the Python side attributes the
  * rows to windows and spans by time. Nothing here is attached during
  * an untraced window.
  */
final class Tracer {
  import Tracer._

  /** (jobId, startMs, endMs, stages) */
  val jobs = new ConcurrentLinkedQueue[Array[Double]]()
  /** (finishMs, runMs, cpuMs, gcMs, shuffleWriteB, shuffleReadB,
    * spillB, inputB, outputB) */
  val tasks = new ConcurrentLinkedQueue[Array[Double]]()
  /** (endMs, analysisMs, optimizationMs, planningMs) */
  val plans = new ConcurrentLinkedQueue[Array[Double]]()
  /** (atMs, compileMs) */
  val compiles = new ConcurrentLinkedQueue[Array[Double]]()
  val spans = new ConcurrentLinkedQueue[Span]()

  private val jobStarts = new ConcurrentHashMap[Int, Array[Double]]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.put(e.jobId, Array(e.jobId.toDouble, e.time.toDouble, 0, e.stageInfos.size))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val row = jobStarts.remove(e.jobId)
      if (row != null) { row(2) = e.time.toDouble; jobs.add(row) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(Array(
        e.taskInfo.finishTime.toDouble, m.executorRunTime.toDouble,
        m.executorCpuTime / 1e6, m.jvmGCTime.toDouble,
        m.shuffleWriteMetrics.bytesWritten.toDouble,
        m.shuffleReadMetrics.totalBytesRead.toDouble,
        (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
        m.inputMetrics.bytesRead.toDouble, m.outputMetrics.bytesWritten.toDouble))
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String): Double = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      val end = if (ph.isEmpty) System.currentTimeMillis().toDouble
                else ph.values.map(_.endTimeMs).max.toDouble
      plans.add(Array(end, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    CodegenLog.sink = (at, ms) => compiles.add(Array(at.toDouble, ms))
    CodegenLog.install()
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    CodegenLog.sink = (_, _) => ()
  }

  /** Time `body` as a span; `parent` and `op` tie it into the tree. */
  def span[T](name: String, op: Int, parent: String = "")(body: => T): T = {
    val start = System.currentTimeMillis()
    try body
    finally spans.add(Span(name, start, System.currentTimeMillis(), parent, op))
  }

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs.asScala.map(_.toSeq).toSeq,
    "tasks" -> tasks.asScala.map(_.toSeq).toSeq,
    "plans" -> plans.asScala.map(_.toSeq).toSeq,
    "compiles" -> compiles.asScala.map(_.toSeq).toSeq,
    "spans" -> spans.asScala.toSeq.map(s => Map(
      "name" -> s.name, "start" -> s.start, "end" -> s.end,
      "parent" -> s.parent, "op" -> s.op)))
}

object Tracer {
  final case class Span(name: String, start: Long, end: Long, parent: String, op: Int)

  /** Total codegen compiles this JVM has done (CodegenMetrics). */
  def codegenCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Driver heap after a full GC, in MB. Spark's ContextCleaner frees
    * broadcast and shuffle state only after a GC has enqueued their
    * references, so collect a few times with a pause in between. */
  def liveHeapMb(): Double = {
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def jvmStats(): Map[String, Double] = {
    val meta = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName == "Metaspace").map(_.getUsage.getUsed).sum
    Map(
      "metaspace_mb" -> meta / 1048576.0,
      "classes_loaded" -> ManagementFactory.getClassLoadingMXBean.getLoadedClassCount.toDouble)
  }

  /** Routes the codegen compiler's "Code generated in N ms" log line to
    * a sink, without echoing INFO lines to the console. */
  object CodegenLog {
    private val logger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    private val line = "Code generated in ([0-9.]+) ms".r.unanchored
    @volatile var sink: (Long, Double) => Unit = (_, _) => ()
    private var installed = false

    def install(): Unit = synchronized {
      if (!installed) {
        val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
        val cfg = ctx.getConfiguration
        val app = new AbstractAppender("perfbench-codegen", null, null, true,
          Property.EMPTY_ARRAY) {
          override def append(e: LogEvent): Unit =
            e.getMessage.getFormattedMessage match {
              case line(ms) => sink(e.getTimeMillis, ms.toDouble)
              case _ =>
            }
        }
        app.start()
        cfg.addAppender(app)
        val lc = new LoggerConfig(logger, Level.INFO, false)
        lc.addAppender(app, Level.INFO, null)
        cfg.addLogger(logger, lc)
        ctx.updateLoggers()
        installed = true
      }
    }
  }
}
