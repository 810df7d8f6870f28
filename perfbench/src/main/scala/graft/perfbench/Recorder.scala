package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a call into a graft module made by the benchmark. */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startNs: Long, var endNs: Long = 0L)

/** Counts gathered from Spark's public listeners, attributed to the span
  * that was open on the thread that submitted the work. */
final class LayerCounts {
  var taskMs = 0L
  var tasks = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var joinRowsMax = 0L
}

/** Spans and listener counts for a traced run, and micro-batch progress
  * for every streaming run (progress is how stream latency is measured,
  * so it is recorded with tracing off too).
  *
  * Attribution: `span` stores the span name in a Spark local property,
  * which Spark copies into every job the thread submits, so each stage's
  * task time, shuffle and spill land on the module that caused them (the
  * stream thread's jobs carry no graft call site, so the property, not the
  * call site, names the module). QueryExecutionListener callbacks arrive
  * on the listener bus, so a span drains the bus when it closes and takes
  * the queued executions as its own. */
final class Recorder(spark: SparkSession, runId: String) {
  /** Spans are recorded only while this is set. */
  @volatile var tracing = false
  private val SpanProp = "perfbench.span"
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private val counts = mutable.Map[String, LayerCounts]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  val codegenFallbacks = new AtomicLong()
  private val finishedQes = new ConcurrentLinkedQueue[QueryExecution]()
  private val stageSpan = mutable.Map[Int, String]()
  /** Task run time (ms) by the wall-clock second the task finished in. */
  private val taskMsBySec = mutable.Map[Long, Long]().withDefaultValue(0L)

  /** Counts of the jobs submitted under a span (the traced phase's). */
  def traced: Map[String, LayerCounts] = counts.synchronized(counts.toMap - "untraced")

  private def layer(span: String): LayerCounts = counts.synchronized(counts.getOrElseUpdate(span, new LayerCounts))

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
      if (p.numInputRows > 0 || d.contains("addBatch"))
        progress.add(Map(
          "run" -> p.runId.toString, "batch" -> p.batchId, "rows" -> p.numInputRows,
          "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli / 1000.0,
          "trigger_s" -> d.getOrElse("triggerExecution", 0L) / 1000.0,
          "add_batch_s" -> d.getOrElse("addBatch", 0L) / 1000.0))
    }
  })

  /** Registers the task listener a traced run reads; a plain run has none. */
  def enableTaskListener(): Unit =
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val s = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).getOrElse("untraced")
        e.stageIds.foreach(stageSpan(_) = s)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val s = synchronized(stageSpan.getOrElse(e.stageId, "untraced"))
        val m = e.taskMetrics
        if (m != null) {
          val c = layer(s)
          c.synchronized {
            c.tasks += 1
            c.taskMs += m.executorRunTime
            c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
          taskMsBySec.synchronized { taskMsBySec(e.taskInfo.finishTime / 1000) += m.executorRunTime }
        }
      }
    })

  /** Registers the plan and log listeners of the traced phase. */
  def enablePlanListeners(): Unit = {
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        finishedQes.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    CodegenLog.count(codegenFallbacks)
  }

  /** Run `body` as a span named `name` (tracing on), or just run it. */
  def span[T](name: String)(body: => T): T = {
    if (!tracing) return body
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(SpanProp)
    val s = synchronized {
      val sp = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), runId, System.nanoTime())
      spans += sp
      stack = sp :: stack
      sp
    }
    sc.setLocalProperty(SpanProp, name)
    try body
    finally {
      s.endNs = System.nanoTime()
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
      takeJoinRows(name)
      sc.setLocalProperty(SpanProp, outer)
      synchronized { stack = stack.tail }
    }
  }

  /** Output rows of every join in an executed plan, including the plans
    * of cached relations it scans (a span materializes its layer into the
    * cache, so its joins sit behind an InMemoryTableScan). */
  private object PlanWalk extends AdaptiveSparkPlanHelper {
    def joinRows(p: SparkPlan): Seq[Long] =
      collect(p) { case j: BaseJoinExec => j.metrics.get("numOutputRows").map(_.value).getOrElse(0L) } ++
        collect(p) { case m: InMemoryTableScanExec => m.relation.cachedPlan }.flatMap(joinRows)
  }

  private def takeJoinRows(span: String): Unit = {
    var qe = finishedQes.poll()
    while (qe != null) {
      val rows = try PlanWalk.joinRows(qe.executedPlan) catch { case scala.util.control.NonFatal(_) => Nil }
      if (rows.nonEmpty) {
        val c = layer(span)
        c.synchronized { c.joinRowsMax = math.max(c.joinRowsMax, rows.max) }
      }
      qe = finishedQes.poll()
    }
  }

  def spanRecords: Seq[Map[String, Any]] = synchronized {
    spans.toSeq.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
      "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9))
  }

  def progressRecords: Seq[Map[String, Any]] = progress.asScala.toSeq

  /** [second, task ms] pairs, for the task time inside a time window. */
  def taskMsBySecond: Seq[Seq[Long]] = taskMsBySec.synchronized(taskMsBySec.toSeq.sorted.map { case (k, v) => Seq(k, v) })
}

/** Counts whole-stage codegen fallbacks: Spark logs one warning each time a
  * generated method outgrows the 64 KB JVM limit and the stage falls back
  * to interpreted evaluation. */
object CodegenLog {
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.Property

  def count(n: AtomicLong): Unit = {
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("grows beyond 64 KB") || m.contains("codegen disabled")) n.incrementAndGet()
      }
    }
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, null, null)
    ctx.updateLoggers()
  }
}
