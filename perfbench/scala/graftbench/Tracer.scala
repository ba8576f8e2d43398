package graftbench

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters of the traced run, read from outside the program:
  * Spark's scheduler, SQL-execution and streaming listeners, the
  * codegen metrics registry and the code generator's log line.
  *
  * Every counter is cumulative. The harness drains the listener bus,
  * takes a [[snapshot]] at each query boundary and works with deltas.
  * Listener callbacks run on the bus thread, hence the lock.
  */
final class Tracer extends SparkListener {
  private val c = scala.collection.mutable.Map.empty[String, Double]
    .withDefaultValue(0.0)
  private var activeJobs = 0
  private var busySinceMs = 0L

  private def add(k: String, v: Double): Unit = c(k) += v

  def snapshot(): Map[String, Double] = synchronized {
    val extra = Map(
      "functions.codegen_compiles" ->
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "functions.codegen_s" -> CodegenLog.totalMs.sum() / 1e3)
    c.toMap ++ extra
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("scheduler.jobs", 1)
    if (activeJobs == 0) busySinceMs = e.time
    activeJobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    activeJobs -= 1
    if (activeJobs == 0) add("scheduler.busy_s", (e.time - busySinceMs) / 1e3)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { add("scheduler.stages", 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("scheduler.tasks", 1)
    if (e.taskInfo.attemptNumber > 0) add("scheduler.task_retries", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("executor.run_s", m.executorRunTime / 1e3)
      add("executor.cpu_s", m.executorCpuTime / 1e9)
      add("executor.gc_s", m.jvmGCTime / 1e3)
      add("executor.deser_s", m.executorDeserializeTime / 1e3)
      add("exchange.write_mb", m.shuffleWriteMetrics.bytesWritten / Tracer.MB)
      add("exchange.read_mb", m.shuffleReadMetrics.totalBytesRead / Tracer.MB)
      add("exchange.records", m.shuffleWriteMetrics.recordsWritten)
      add("exchange.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("exchange.spill_mb", m.diskBytesSpilled / Tracer.MB)
      add("scan.input_mb", m.inputMetrics.bytesRead / Tracer.MB)
      add("scan.input_records", m.inputMetrics.recordsRead)
      add("sink.output_mb", m.outputMetrics.bytesWritten / Tracer.MB)
      add("sink.output_records", m.outputMetrics.recordsWritten)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      synchronized {
        add("checkpoints.stored_mb", (b.memSize + b.diskSize) / Tracer.MB)
      }
  }

  /** The planning phases Catalyst's tracker timed for each finished
    * Dataset action (SizeGate, AdaptivePar and the fold-cosine rewrite
    * run inside these phases). */
  val planning: QueryExecutionListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.foreach { case (phase, s) =>
        add(s"plans.${phase}_s", s.durationMs / 1e3)
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        add("stream.batches", 1)
        add("stream.batch_s", e.progress.batchDuration / 1e3)
      }
  }
}

object Tracer {
  val MB: Double = 1024.0 * 1024.0

  def install(spark: SparkSession): Tracer = {
    CodegenLog.install()
    val t = new Tracer
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t.planning)
    spark.streams.addListener(t.streams)
    t
  }
}

/** Sums the millisecond figure of the code generator's
  * "Code generated in N ms" line; the codegen metrics registry keeps
  * only a sampled histogram of these times, so its sum is not exact. */
object CodegenLog {
  val totalMs = new java.util.concurrent.atomic.DoubleAdder
  private val Logger =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val Line = """Code generated in ([0-9.]+) ms""".r.unanchored

  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val conf = ctx.getConfiguration
    val app = new AbstractAppender("graftbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        e.getMessage.getFormattedMessage match {
          case Line(ms) => totalMs.add(ms.toDouble)
          case _ =>
        }
    }
    app.start()
    conf.addAppender(app)
    // Not additive: the INFO line feeds the counter, not the console.
    val lc = new LoggerConfig(Logger, Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    conf.addLogger(Logger, lc)
    ctx.updateLoggers()
  }
}
