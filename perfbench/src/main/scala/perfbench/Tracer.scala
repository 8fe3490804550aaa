package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: op -> action (SQL execution) -> job -> stage.
  * Every span carries the id of the op it belongs to.
  */
final case class Span(kind: String, id: String, var parent: String, var op: String,
                      name: String, start: Long, var end: Long)

/** Per-layer counters and spans for the traced run, fed by a
  * SparkListener (scheduler and executor), a QueryExecutionListener
  * (Catalyst phases and write-command metrics) and a
  * StreamingQueryListener (micro-batches and state commits). Jobs are
  * attributed to ops through the `perfbench.op` local property.
  *
  * Listeners are attached only while a traced pass runs, so untraced
  * passes in the same JVM pay nothing for them.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.OpProperty

  private val counters = mutable.Map.empty[String, Double]
  private val batchMs = mutable.ArrayBuffer.empty[Double]
  private val stateRows = mutable.Map.empty[String, Double]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val jobSpan = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val actionSpan = mutable.Map.empty[Long, Span]

  private def add(k: String, v: Double): Unit = synchronized {
    counters(k) = counters.getOrElse(k, 0.0) + v
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      add("sched.jobs", 1)
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty(OpProperty))).getOrElse("")
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse("")
      val s = Span("job", s"job-${e.jobId}", if (exec.nonEmpty) s"action-$exec" else op,
        op, s"job ${e.jobId}", e.time, e.time)
      spans += s
      jobSpan(e.jobId) = s
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.remove(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      add("sched.stages", 1)
      val i = e.stageInfo
      val job = stageJob.getOrElse(i.stageId, -1)
      val op = jobSpan.get(job).map(_.op).getOrElse("")
      spans += Span("stage", s"stage-${i.stageId}.${i.attemptNumber()}", s"job-$job", op,
        i.name, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("sched.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_s", m.executorRunTime / 1e3)
        add("exec.cpu_s", m.executorCpuTime / 1e9)
        add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        add("exec.spill_mb", (m.diskBytesSpilled + m.memoryBytesSpilled) / 1e6)
        add("exec.scan_rows", m.inputMetrics.recordsRead.toDouble)
        add("exec.result_mb", m.resultSize / 1e6)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        val sp = Span("action", s"action-${s.executionId}", "", "",
          s.description.take(80), s.time, s.time)
        spans += sp
        actionSpan(s.executionId) = sp
      }
      case s: SparkListenerSQLExecutionEnd => Tracer.this.synchronized {
        actionSpan.remove(s.executionId).foreach(_.end = s.time)
      }
      case _ => ()
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      add("catalyst.actions", 1)
      val phases = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        add(s"catalyst.${p}_ms", phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
      }
      qe.executedPlan.foreach {
        case w: DataWritingCommandExec =>
          val m = w.cmd.metrics
          add("write.files", m.get("numFiles").map(_.value.toDouble).getOrElse(0.0))
          add("write.mb", m.get("numOutputBytes").map(_.value / 1e6).getOrElse(0.0))
          add("write.commit_ms", m.get("jobCommitTime").map(_.value.toDouble).getOrElse(0.0))
        case _ => ()
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      add("stream.batches", 1)
      Tracer.this.synchronized {
        batchMs += Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)
      }
      // checkpoint commits of the batch: offset WAL, commit log, state
      add("stream.commit_ms", Seq("walCommit", "commitOffsets")
        .flatMap(k => Option(p.durationMs.get(k))).map(_.toDouble).sum)
      p.stateOperators.zipWithIndex.foreach { case (so, i) =>
        add("stream.commit_ms", so.commitTimeMs.toDouble)
        Tracer.this.synchronized {
          val k = s"${p.runId}/$i"
          stateRows(k) = math.max(stateRows.getOrElse(k, 0.0), so.numRowsTotal.toDouble)
        }
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait for every queued event, then stop listening. */
  def detach(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Counters since the last call, then reset. `graphOps` are the op
    * span ids of the graph ops in the pass.
    */
  def takePass(graphOps: Seq[String]): Map[String, Double] = synchronized {
    resolveSpans()
    val graphJobs = spans.count(s => s.kind == "job" && graphOps.contains(s.op))
    val out = counters.toMap ++ Map(
      "stream.batch_p50_ms" -> Stats.median(batchMs.toSeq),
      "stream.state_rows" -> stateRows.values.sum,
      "graph.jobs_per_op" ->
        (if (graphOps.isEmpty) 0.0 else graphJobs.toDouble / graphOps.size))
    counters.clear(); batchMs.clear(); stateRows.clear()
    out
  }

  /** Attribute every span to its op. A job's `perfbench.op` property is
    * trusted when that op was running at the job's start; jobs from
    * pooled threads can carry a stale property (threads inherit local
    * properties when created), so those, and actions without jobs, go to
    * the op whose interval contains their start. Ops run one at a time.
    */
  def resolveSpans(): Unit = synchronized {
    val ops = spans.filter(_.kind == "op").map(o => o.id -> o).toMap
    def during(t: Long): String =
      ops.values.find(o => o.start <= t && t <= o.end).map(_.id).getOrElse("")
    spans.foreach { s =>
      if (s.kind == "job" && !ops.get(s.op).exists(o => o.start <= s.start && s.start <= o.end)) {
        s.op = during(s.start)
        if (!s.parent.startsWith("action-")) s.parent = s.op
      }
    }
    val jobOp = spans.filter(_.kind == "job").map(s => s.id -> s.op).toMap
    val actionOp = spans.filter(s => s.kind == "job" && s.parent.startsWith("action-"))
      .map(s => s.parent -> s.op).toMap
    spans.foreach { s =>
      if (s.kind == "stage") s.op = jobOp.getOrElse(s.parent, s.op)
      if (s.kind == "action") {
        s.op = actionOp.getOrElse(s.id, during(s.start))
        s.parent = s.op
      }
    }
  }
}

object Tracer {
  val OpProperty = "perfbench.op"
}
