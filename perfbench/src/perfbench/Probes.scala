package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.IncrementalExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished trigger of the measured query, from its progress report. */
final case class TriggerRecord(progress: StreamingQueryProgress) {
  val batchId: Long = progress.batchId
  val startMs: Long = Instant.parse(progress.timestamp).toEpochMilli
  val durMs: Long = phase("triggerExecution")
  val endMs: Long = startMs + durMs
  val rows: Long = progress.numInputRows
  def phase(name: String): Long = Option(progress.durationMs.get(name)).map(_.longValue).getOrElse(0L)
}

/** Watches the measured query's progress. Every finished trigger is
  * recorded and handed to `onTrigger` on the listener thread (the feeder
  * uses it to keep the source two files ahead).
  */
final class ProgressProbe(onTrigger: TriggerRecord => Unit) extends StreamingQueryListener {
  @volatile var queryName: String = _
  val triggers = new java.util.concurrent.ConcurrentLinkedQueue[TriggerRecord]()

  override def onQueryStarted(event: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(event: StreamingQueryListener.QueryProgressEvent): Unit =
    if (event.progress.name == queryName) {
      val t = TriggerRecord(event.progress)
      triggers.add(t)
      onTrigger(t)
    }
}

/** Engine work of one traced trigger, summed over its jobs and tasks. */
final class BatchWork {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, deserMs, schedDelayMs, shuffleRead, shuffleWrite = 0L
}

final case class JobSpan(jobId: Int, batchId: Long, startMs: Long, endMs: Long, stageIds: Seq[Int])
final case class StageSpan(stageId: Int, startMs: Long, endMs: Long)

/** Spark listener that attributes jobs, stages and task metrics to the
  * streaming batch that ran them (the `streaming.sql.batchId` job
  * property) and keeps them only for batches `traced` selects.
  */
final class EngineProbe(traced: Long => Boolean) extends SparkListener {
  private val stageBatch = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long, Seq[Int])]()
  val work = new ConcurrentHashMap[Long, BatchWork]()
  val jobs = mutable.ArrayBuffer.empty[JobSpan]
  val stages = mutable.ArrayBuffer.empty[StageSpan]

  private def batchOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong).filter(traced)

  private def workOf(b: Long): BatchWork = work.computeIfAbsent(b, _ => new BatchWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = batchOf(e.properties).foreach { b =>
    e.stageIds.foreach(s => stageBatch.put(s, b))
    jobStart.put(e.jobId, (b, e.time, e.stageIds))
    workOf(b).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobStart.remove(e.jobId)).foreach {
    case (b, t0, sids) => jobs.synchronized(jobs += JobSpan(e.jobId, b, t0, e.time, sids))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageBatch.get(info.stageId)).foreach { b =>
      workOf(b).stages += 1
      for (s <- info.submissionTime; c <- info.completionTime)
        stages.synchronized(stages += StageSpan(info.stageId, s, c))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(stageBatch.get(e.stageId)).foreach { b =>
    val m = e.taskMetrics
    val w = workOf(b)
    w.tasks += 1
    if (m != null) {
      w.runMs += m.executorRunTime
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.deserMs += m.executorDeserializeTime
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime +
        e.taskInfo.gettingResultTime
      w.schedDelayMs += math.max(0L, e.taskInfo.duration - busy)
    }
  }
}

/** Query-planning phases (analysis, optimization, planning) of each traced
  * micro-batch, from `QueryExecution.tracker`.
  */
final class PhaseProbe(traced: Long => Boolean) extends QueryExecutionListener {
  val phases = new ConcurrentHashMap[Long, Map[String, Long]]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = qe match {
    case ie: IncrementalExecution if traced(ie.currentBatchId) =>
      val p = ie.tracker.phases.map { case (k, v) => k -> v.durationMs }
      phases.merge(ie.currentBatchId, p, (a, b) => (a.keySet ++ b.keySet).map(k =>
        k -> (a.getOrElse(k, 0L) + b.getOrElse(k, 0L))).toMap)
    case _ =>
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Probes {
  /** Compile count and summed compile milliseconds of generated code so far. */
  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum)
  }

  /** Peak resident set size of this JVM in MB (VmHWM), or 0 where unknown. */
  def peakRssMb(): Double =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    }.getOrElse(0.0)
}
