package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Listeners of the traced run. Each records raw events with the wall-clock
  * millisecond times Spark stamps on them; the analysis attributes every
  * job and SQL execution to the benchmark span whose interval contains it.
  * Nothing here is registered in an untraced run. */
final class Recorder(spark: SparkSession) {

  final class Job(val id: Int, val startMs: Long) {
    var endMs = -1L
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var input = 0L
  }

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val plans = mutable.ArrayBuffer[Map[String, Any]]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = new Job(e.jobId, e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid) if m != null) {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
      }
    }
  }

  private def recordPlan(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) plans += phases.map { case (k, p) =>
      k -> Map("start_ms" -> p.startTimeMs, "end_ms" -> p.endTimeMs)
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = recordPlan(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = recordPlan(qe)
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
  }

  /** Everything recorded, after the listener buses have drained. */
  def dump(): Map[String, Any] = {
    org.apache.spark.BusDrain.drain(spark.sparkContext)
    synchronized {
      Map(
        "jobs" -> jobs.values.filter(_.endMs >= 0).map { j =>
          Map("id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
            "tasks" -> j.tasks, "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs,
            "gc_ms" -> j.gcMs, "shuffle_read" -> j.shuffleRead,
            "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill,
            "input" -> j.input)
        }.toSeq,
        "plans" -> plans.toSeq)
    }
  }
}

/** The progress of every micro-batch, from a `StreamingQueryListener`. The
  * streaming end-to-end metrics (`batch_s`, `stream_rows_per_s`) come from
  * it, so it is registered in traced and untraced runs; the traced run
  * also attributes each batch to its span. */
final class StreamProgress(spark: SparkSession) {
  private val batches = mutable.ArrayBuffer[Map[String, Any]]()

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      val state = p.stateOperators.toSeq
      batches += Map(
        "run_id" -> p.runId.toString,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "input_rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_rows" -> state.map(_.numRowsTotal).sum,
        "state_mem_bytes" -> state.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> state.map(_.commitTimeMs).sum)
    }
  }

  def register(): Unit = spark.streams.addListener(listener)

  /** Every batch's progress, after the listener bus has drained. */
  def dump(): Seq[Map[String, Any]] = {
    org.apache.spark.BusDrain.drain(spark.sparkContext)
    synchronized(batches.toSeq)
  }
}
