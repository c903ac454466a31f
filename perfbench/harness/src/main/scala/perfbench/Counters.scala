package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-micro-batch progress of every streaming query, from Spark's
  * `StreamingQueryListener`. `take()` returns the counters gathered
  * since the last call (one query's replays) and starts afresh.
  */
class StreamCounters extends StreamingQueryListener {
  private var batches, dataBatches, inputRows = 0L
  private var planMs, addBatchMs, walMs, commitMs, stateCommitMs = 0L
  private var stateRows, stateMem = 0L
  private val triggerMs = mutable.ArrayBuffer.empty[Double]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      batches += 1
      if (p.numInputRows > 0) dataBatches += 1
      inputRows += p.numInputRows
      planMs += d("queryPlanning")
      addBatchMs += d("addBatch")
      walMs += d("walCommit")
      commitMs += d("commitOffsets")
      triggerMs += d("triggerExecution").toDouble
      val ops = p.stateOperators
      stateRows = math.max(stateRows, ops.map(_.numRowsTotal).sum)
      stateMem = math.max(stateMem, ops.map(_.memoryUsedBytes).sum)
      stateCommitMs += ops.map(_.commitTimeMs).sum
    }

  /** The counters and the per-batch trigger durations (ms). */
  def take(): (Map[String, Double], Seq[Double]) = synchronized {
    val m = Map(
      "stream.batches" -> batches.toDouble,
      "stream.data_batches" -> dataBatches.toDouble,
      "stream.input_rows" -> inputRows.toDouble,
      "stream.plan_ms" -> planMs.toDouble,
      "stream.addbatch_ms" -> addBatchMs.toDouble,
      "stream.walcommit_ms" -> walMs.toDouble,
      "stream.commit_ms" -> commitMs.toDouble,
      "stream.state_rows" -> stateRows.toDouble,
      "stream.state_mem_mb" -> stateMem / 1048576.0,
      "stream.state_commit_ms" -> stateCommitMs.toDouble)
    val t = triggerMs.toList
    batches = 0; dataBatches = 0; inputRows = 0
    planMs = 0; addBatchMs = 0; walMs = 0; commitMs = 0; stateCommitMs = 0
    stateRows = 0; stateMem = 0
    triggerMs.clear()
    (m, t)
  }
}

/** Job, stage and task counters from a `SparkListener`. Jobs are
  * split by the phase local property the harness sets around the
  * query builder call and the final action.
  */
class ExecCounters(phaseKey: String) extends SparkListener {
  private var jobs, buildJobs, stages, tasks = 0L
  private var taskMs, taskCpuNs, gcMs = 0L
  private var shWrite, shRead, shRecords, spill, input, output, peakMem = 0L
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    if (Option(e.properties).exists(p => p.getProperty(phaseKey) == "build")) buildJobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shWrite += m.shuffleWriteMetrics.bytesWritten
      shRecords += m.shuffleWriteMetrics.recordsWritten
      shRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
      output += m.outputMetrics.bytesWritten
      peakMem = math.max(peakMem, m.peakExecutionMemory)
    }
  }

  /** Milliseconds during which exactly one task was running. */
  private def serialMs: Long = {
    val edges = intervals.flatMap { case (s, f) => Seq((s, 1), (f, -1)) }
      .sortBy { case (t, d) => (t, d) }
    var running = 0
    var last = 0L
    var total = 0L
    edges.foreach { case (t, d) =>
      if (running == 1) total += t - last
      running += d
      last = t
    }
    total
  }

  def take(): Map[String, Double] = synchronized {
    val m = Map(
      "exec.jobs" -> jobs.toDouble,
      "exec.build_jobs" -> buildJobs.toDouble,
      "exec.stages" -> stages.toDouble,
      "exec.tasks" -> tasks.toDouble,
      "exec.task_s" -> taskMs / 1e3,
      "exec.task_cpu_s" -> taskCpuNs / 1e9,
      "exec.gc_s" -> gcMs / 1e3,
      "exec.shuffle_write_bytes" -> shWrite.toDouble,
      "exec.shuffle_read_bytes" -> shRead.toDouble,
      "exec.shuffle_records" -> shRecords.toDouble,
      "exec.spill_bytes" -> spill.toDouble,
      "exec.input_bytes" -> input.toDouble,
      "exec.output_bytes" -> output.toDouble,
      "exec.peak_exec_mem_mb" -> peakMem / 1048576.0,
      "exec.serial_stage_s" -> serialMs / 1e3)
    jobs = 0; buildJobs = 0; stages = 0; tasks = 0
    taskMs = 0; taskCpuNs = 0; gcMs = 0
    shWrite = 0; shRead = 0; shRecords = 0; spill = 0; input = 0; output = 0; peakMem = 0
    intervals.clear()
    m
  }
}
