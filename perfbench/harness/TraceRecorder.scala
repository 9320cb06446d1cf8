package perfbench

import scala.collection.mutable.{ArrayBuffer, HashMap}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import Harness.{num, q}

/** Raw layer events of a traced run: jobs (with the job group the client
  * set per query execution), stages with their tasks folded in, and the
  * planning-phase tracker of every finished query execution. Attached
  * only during traced passes; attribution to query executions and all
  * metric math happen in perfbench/metrics.py.
  */
final class TraceRecorder(spark: SparkSession) {
  private final class Stage(val id: Int, val attempt: Int) {
    var submitMs = Double.NaN; var endMs = Double.NaN
    var tasks = 0L; var retries = 0L; var runMs = 0L; var cpuNs = 0L
    var gcMs = 0L; var deserMs = 0L; var launchDelayMs = 0.0
    var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
    var spill = 0L; var inBytes = 0L; var inRows = 0L
    var outBytes = 0L; var outRows = 0L
  }
  private final case class Job(id: Int, group: String, startMs: Long,
                               stages: Seq[Int]) { var endMs = -1L }

  // every collection below is guarded by this recorder's monitor
  private def lock[T](body: => T): T = synchronized(body)

  private val jobs = HashMap[Int, Job]()
  private val stages = HashMap[(Int, Int), Stage]()
  private val planning = ArrayBuffer[String]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobs(e.jobId) = Job(e.jobId, group, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      lock {
        val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
        s.submitMs = e.stageInfo.submissionTime.map(_.toDouble)
          .getOrElse(System.currentTimeMillis().toDouble)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock {
        val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
        s.endMs = e.stageInfo.completionTime.map(_.toDouble)
          .getOrElse(System.currentTimeMillis().toDouble)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock {
      val s = stage(e.stageId, e.stageAttemptId)
      val info = e.taskInfo
      s.tasks += 1
      if (info.attemptNumber > 0 || !info.successful) s.retries += 1
      if (!s.submitMs.isNaN) s.launchDelayMs += info.launchTime - s.submitMs
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.deserMs += m.executorDeserializeTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inBytes += m.inputMetrics.bytesRead
        s.inRows += m.inputMetrics.recordsRead
        s.outBytes += m.outputMetrics.bytesWritten
        s.outRows += m.outputMetrics.recordsWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution, ok: Boolean)
        : Unit = {
      val phases = qe.tracker.phases.map { case (name, p) =>
        s"${q(name)}:[${p.startTimeMs},${p.endTimeMs}]" }
      lock {
        planning += s"""{"kind":"plan","func":${q(func)},"ok":$ok,""" +
          s""""end_ms":${System.currentTimeMillis()},""" +
          s""""phases":${phases.mkString("{", ",", "}")}}"""
      }
    }
    override def onSuccess(func: String, qe: QueryExecution,
                           durationNs: Long): Unit = record(func, qe, true)
    override def onFailure(func: String, qe: QueryExecution,
                           e: Exception): Unit = record(func, qe, false)
  }

  private def stage(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt), new Stage(id, attempt))

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  /** Deliver every queued event before the listeners go, so the end of a
    * traced pass is complete.
    */
  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  def drain(): Unit = org.apache.spark.PerfbenchBridge.drain(spark)

  def writeEvents(path: String): Unit = lock {
    val lines = ArrayBuffer[String]()
    jobs.values.toSeq.sortBy(_.id).foreach { j =>
      lines += s"""{"kind":"job","id":${j.id},"group":${q(j.group)},""" +
        s""""start_ms":${j.startMs},"end_ms":${j.endMs},""" +
        s""""stages":${j.stages.mkString("[", ",", "]")}}"""
    }
    stages.values.toSeq.sortBy(s => (s.id, s.attempt)).foreach { s =>
      lines += s"""{"kind":"stage","id":${s.id},"attempt":${s.attempt},""" +
        s""""submit_ms":${num(s.submitMs)},"end_ms":${num(s.endMs)},""" +
        s""""tasks":${s.tasks},"retries":${s.retries},""" +
        s""""run_ms":${s.runMs},"cpu_ms":${num(s.cpuNs / 1e6)},""" +
        s""""gc_ms":${s.gcMs},"deserialize_ms":${s.deserMs},""" +
        s""""launch_delay_ms":${num(s.launchDelayMs)},""" +
        s""""shuffle_write_bytes":${s.shuffleWrite},""" +
        s""""shuffle_read_bytes":${s.shuffleRead},""" +
        s""""fetch_wait_ms":${s.fetchWaitMs},"spill_bytes":${s.spill},""" +
        s""""scan_bytes":${s.inBytes},"scan_rows":${s.inRows},""" +
        s""""sink_bytes":${s.outBytes},"sink_rows":${s.outRows}}"""
    }
    lines ++= planning
    Harness.writeFile(path, lines.mkString("", "\n", "\n"))
  }
}

/** Micro-batch progress of every streaming query in the JVM. Registered
  * through `spark.sql.streaming.streamingQueryListeners`, because the
  * engine drains its streams on cloned sessions that a listener added to
  * the client's session would never see.
  */
class StreamProgressListener extends StreamingQueryListener {
  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def dur(k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val ops = p.stateOperators.toSeq
    val rec = s"""{"start_ms":${java.time.Instant.parse(p.timestamp)
        .toEpochMilli},""" +
      s""""trigger_ms":${dur("triggerExecution")},""" +
      s""""add_batch_ms":${dur("addBatch")},""" +
      s""""input_rows":${p.numInputRows},""" +
      s""""state_commit_ms":${ops.map(_.commitTimeMs).sum},""" +
      s""""state_rows":${ops.map(_.numRowsTotal).sum},""" +
      s""""state_mem_bytes":${ops.map(_.memoryUsedBytes).sum}}"""
    StreamProgressListener.synchronized {
      StreamProgressListener.records += rec
    }
  }
}

object StreamProgressListener {
  private val records = ArrayBuffer[String]()
  def snapshot(): Seq[String] = synchronized(records.toList)
}
