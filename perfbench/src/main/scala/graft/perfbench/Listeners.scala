package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Per-job scheduler and task counters, registered only in traced passes.
  * Events arrive on one listener-bus thread; read `records` after
  * `PerfbenchBus.drain`. */
final class JobListener extends SparkListener {
  private final class Job(val id: Int, val startMs: Long) {
    var endMs = -1L
    val c = mutable.LinkedHashMap[String, Long]().withDefaultValue(0L)
  }
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs(e.jobId) = new Job(e.jobId, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endMs = e.time)

  private def job(stageId: Int): Option[Job] = stageJob.get(stageId).flatMap(jobs.get)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    job(e.stageInfo.stageId).foreach(_.c("stages") += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = job(e.stageId).foreach { j =>
    val c = j.c
    c("tasks") += 1
    if (!e.taskInfo.successful) c("tasks_failed") += 1
    val m = e.taskMetrics
    if (m != null) {
      c("run_ms") += m.executorRunTime
      c("cpu_ns") += m.executorCpuTime
      c("gc_ms") += m.jvmGCTime
      c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      c("fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
      c("spill_bytes") += m.diskBytesSpilled
      c("scan_rows") += m.inputMetrics.recordsRead
      c("scan_bytes") += m.inputMetrics.bytesRead
    }
  }

  def records: Seq[Map[String, Any]] = jobs.values.toSeq.map { j =>
    Map[String, Any]("job" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs) ++ j.c
  }
}

/** Micro-batch phases and state-store counters of every streaming trigger
  * in a traced pass. */
final class ProgressListener extends StreamingQueryListener {
  private val progress = mutable.ArrayBuffer[Map[String, Any]]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Long = if (d.containsKey(k)) d.get(k).longValue else 0L
    val ops = p.stateOperators.toSeq
    progress += Map(
      "query" -> p.id.toString,
      "ts_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "input_rows" -> p.numInputRows,
      "trigger_ms" -> ms("triggerExecution"), "add_batch_ms" -> ms("addBatch"),
      "query_planning_ms" -> ms("queryPlanning"), "latest_offset_ms" -> ms("latestOffset"),
      "wal_commit_ms" -> ms("walCommit"), "commit_offsets_ms" -> ms("commitOffsets"),
      "state_rows" -> ops.map(_.numRowsTotal).sum,
      "state_mem_bytes" -> ops.map(_.memoryUsedBytes).sum,
      "state_commit_ms" -> ops.map(_.commitTimeMs).sum)
  }

  def records: Seq[Map[String, Any]] = progress.toSeq
}
