package ingestbench

import scala.collection.mutable

import org.apache.spark.{IngestBenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for the traced run, gathered only through Spark's
  * public listeners. The harness tags every job with the running span
  * and phase through two local properties; stages and tasks inherit the
  * span of their job, and streaming micro-batches the span that was
  * open when their query started. Planning events carry no properties,
  * so they go to the open span: the bus is drained before a span closes,
  * so no event crosses into the next op. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val counters = mutable.Map[String, mutable.Map[String, Double]]()
  private val stageSpan = mutable.Map[Int, String]()
  private val stagePhase = mutable.Map[Int, String]()
  private val streamSpan = mutable.Map[java.util.UUID, String]()
  @volatile private var open: String = null

  private def add(span: String, key: String, v: Double): Unit =
    if (span != null) synchronized {
      val m = counters.getOrElseUpdate(span, mutable.Map())
      m(key) = m.getOrElse(key, 0.0) + v
    }
  private def max(span: String, key: String, v: Double): Unit =
    if (span != null) synchronized {
      val m = counters.getOrElseUpdate(span, mutable.Map())
      m(key) = math.max(m.getOrElse(key, 0.0), v)
    }

  private object jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.map(_.getProperty(SpanKey)).orNull
      val phase = props.map(_.getProperty(PhaseKey)).orNull
      if (span != null) {
        synchronized {
          e.stageIds.foreach { id => stageSpan(id) = span; stagePhase(id) = phase }
        }
        add(span, "exec.jobs", 1)
        add(span, "stage_refs", e.stageInfos.size)
        if (phase == "build") add(span, "build.jobs", 1)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(synchronized(stageSpan.get(e.stageInfo.stageId).orNull), "exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val (span, phase) = synchronized(
        (stageSpan.get(e.stageId).orNull, stagePhase.get(e.stageId).orNull))
      add(span, "exec.tasks", 1)
      if (e.reason != Success) add(span, "exec.tasks_failed", 1)
      val m = e.taskMetrics
      if (m != null) {
        add(span, "exec.task_run_ms", m.executorRunTime.toDouble)
        add(span, "exec.task_cpu_ms", m.executorCpuTime / 1e6)
        add(span, "exec.gc_ms", m.jvmGCTime.toDouble)
        add(span, "exec.input_rows", m.inputMetrics.recordsRead.toDouble)
        add(span, "exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add(span, "exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(span, "exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(span, "exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add(span, "exec.output_bytes", m.outputMetrics.bytesWritten.toDouble)
        if (phase == "e1") add(span, "e1.rows_out", m.outputMetrics.recordsWritten.toDouble)
      }
    }
  }

  private object plans extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      add(open, "plan.executions", 1)
      add(open, "plan.ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private object streams extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      synchronized { streamSpan(e.runId) = open }
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val span = synchronized(streamSpan.getOrElse(p.runId, open))
      def phase(k: String) = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      add(span, "stream.batches", 1)
      add(span, "stream.trigger_ms", phase("triggerExecution"))
      add(span, "stream.add_batch_ms", phase("addBatch"))
      add(span, "stream.wal_commit_ms", phase("walCommit"))
      add(span, "stream.input_rows", p.numInputRows.toDouble)
      add(span, "stream.state_commit_ms", p.stateOperators.map(_.commitTimeMs).sum.toDouble)
      max(span, "stream.state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
      max(span, "stream.state_mem_bytes", p.stateOperators.map(_.memoryUsedBytes).sum.toDouble)
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(jobs)
  spark.listenerManager.register(plans)
  spark.streams.addListener(streams)

  /** Opens a span; jobs the calling thread (and threads it starts)
    * submits from now on are attributed to it. */
  def begin(span: String): Unit = {
    drain()
    synchronized { counters(span) = mutable.Map(Counters.map(_ -> 0.0): _*) }
    open = span
    spark.sparkContext.setLocalProperty(SpanKey, span)
  }

  def phase(p: String): Unit = spark.sparkContext.setLocalProperty(PhaseKey, p)

  /** Closes the open span, outside any timed interval, and returns its
    * counters. */
  def end(): Map[String, Double] = {
    drain()
    val span = open
    open = null
    spark.sparkContext.setLocalProperty(SpanKey, null)
    spark.sparkContext.setLocalProperty(PhaseKey, null)
    synchronized {
      val m = counters.remove(span).map(_.toMap).getOrElse(Map.empty)
      val refs = m.getOrElse("stage_refs", 0.0)
      (m - "stage_refs") +
        ("exec.stages_skipped" -> math.max(0.0, refs - m.getOrElse("exec.stages", 0.0)))
    }
  }

  private def drain(): Unit = IngestBenchBus.drain(spark.sparkContext)
}

object Tracer {
  val SpanKey = "ingestbench.span"
  val PhaseKey = "ingestbench.phase"

  /** Every counter a span reports, zero when no event raised it. */
  val Counters: Seq[String] = Seq(
    "build.jobs", "plan.ms", "plan.executions",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.tasks_failed",
    "exec.task_run_ms", "exec.task_cpu_ms", "exec.gc_ms", "exec.input_rows",
    "exec.input_bytes", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
    "exec.spill_bytes", "exec.output_bytes", "e1.rows_out",
    "stream.batches", "stream.trigger_ms", "stream.add_batch_ms", "stream.wal_commit_ms",
    "stream.state_commit_ms", "stream.state_rows", "stream.state_mem_bytes",
    "stream.input_rows")
}
