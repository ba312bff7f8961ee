package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.graftbench.Plans
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One Spark job as the scheduler reported it, with the task metrics of
  * every task that ran for it. Times are epoch milliseconds. */
final class JobStat(val id: Int, val startMs: Long, val stageIds: Seq[Int]) {
  var endMs: Long = -1L
  var tasks = 0
  var runMs = 0L        // executorRunTime
  var cpuNs = 0L        // executorCpuTime
  var taskMs = 0L       // launch to finish, as the scheduler saw it
  var gcMs = 0L
  var shuffleBytes = 0L // shuffle write
  var spillBytes = 0L   // memory + disk spill
  var inBytes = 0L
  var inRecords = 0L

  def fields: Map[String, Any] = Map(
    "id" -> id, "start_ms" -> startMs, "end_ms" -> endMs, "tasks" -> tasks,
    "run_ms" -> runMs, "cpu_ns" -> cpuNs, "task_ms" -> taskMs, "gc_ms" -> gcMs,
    "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes,
    "in_bytes" -> inBytes, "in_records" -> inRecords)
}

/** The benchmark's only view into the engine while it runs: a listener on
  * the SparkContext. It sees scheduler events (jobs, tasks, block
  * updates), SQL execution ends (scan metrics) and Structured Streaming
  * progress, which Spark re-posts on the context's bus. Attached only in
  * traced runs. */
final class Recorder extends SparkListener {
  private val jobsById = mutable.LinkedHashMap[Int, JobStat]()
  private val stageJob = mutable.HashMap[Int, JobStat]()
  private val blocks = mutable.HashMap[String, Long]()
  private var stored = 0L
  private var peak = 0L
  private val execStats = mutable.ArrayBuffer[Plans.ExecStat]()
  private val progressJson = mutable.ArrayBuffer[String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new JobStat(e.jobId, e.time, e.stageIds)
    jobsById(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      j.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inBytes += m.inputMetrics.bytesRead
        j.inRecords += m.inputMetrics.recordsRead
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val id = info.blockId.name
    val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
    stored += size - blocks.getOrElse(id, 0L)
    if (size == 0L) blocks.remove(id) else blocks(id) = size
    peak = math.max(peak, stored)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent =>
      synchronized { progressJson += p.progress.json }
    case _ => Plans.execStat(e).foreach(s => synchronized { execStats += s })
  }

  /** Jobs that started in [fromMs, toMs). */
  def jobs(fromMs: Double, toMs: Double): Seq[JobStat] = synchronized {
    jobsById.values.filter(j => j.startMs >= fromMs && j.startMs < toMs).toList
  }

  /** SQL executions that ended in [fromMs, toMs). */
  def executions(fromMs: Double, toMs: Double): Seq[Plans.ExecStat] = synchronized {
    execStats.filter(s => s.endMs >= fromMs && s.endMs < toMs).toList
  }

  def progress: Seq[String] = synchronized(progressJson.toList)

  /** CPU time of the listener-bus thread that delivers this listener's
    * events (the "shared" queue): the tracing cost in CPU. */
  def busCpuNs(): Long = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    Thread.getAllStackTraces.keySet.toArray(new Array[Thread](0))
      .filter(_.getName == "spark-listener-group-shared")
      .map(t => math.max(0L, mx.getThreadCpuTime(t.getId))).sum
  }

  /** Restart the block-store peak from what is stored now. */
  def resetStorePeak(): Unit = synchronized { peak = stored }
  def storePeakBytes: Long = synchronized(peak)
}
