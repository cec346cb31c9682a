package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Engine-wide counters summed by [[SparkCounters]] over the measured part
  * of a traced run (`reset` at its start). Global because Spark instantiates
  * the listener itself, once per SparkContext: `graft.Backfill` starts and
  * stops its own session on every call.
  */
object Counters {
  val jobs, stages, tasks = new AtomicLong
  val shuffleWriteBytes, shuffleReadBytes, spillBytes = new AtomicLong
  val gcMs, cpuNs = new AtomicLong
  /** Duration of the most recently completed result stage: the stage that
    * writes the files of a write job, or folds the rows of a query.
    */
  val lastResultStageMs = new AtomicLong

  def reset(): Unit =
    Seq(jobs, stages, tasks, shuffleWriteBytes, shuffleReadBytes, spillBytes,
      gcMs, cpuNs, lastResultStageMs).foreach(_.set(0))

  def snapshot: Map[String, Double] = Map(
    "spark.jobs" -> jobs.get.toDouble,
    "spark.stages" -> stages.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble,
    "spark.shuffle_write_bytes" -> shuffleWriteBytes.get.toDouble,
    "spark.shuffle_read_bytes" -> shuffleReadBytes.get.toDouble,
    "spark.spill_bytes" -> spillBytes.get.toDouble,
    "spark.gc_ms" -> gcMs.get.toDouble,
    "spark.executor_cpu_ms" -> cpuNs.get / 1e6)
}

/** Registered through `spark.extraListeners` in traced runs only. Each
  * completed stage also becomes a `spark` span.
  */
class SparkCounters extends SparkListener {
  private val resultStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    Counters.jobs.incrementAndGet()
    if (e.stageIds.nonEmpty) resultStages.add(e.stageIds.max)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    Counters.stages.incrementAndGet()
    for (sub <- s.submissionTime; done <- s.completionTime) {
      Trace.add("spark", s"stage ${s.stageId}: ${s.name}",
        Trace.fromEpochMs(sub), Trace.fromEpochMs(done))
      if (resultStages.remove(s.stageId)) Counters.lastResultStageMs.set(done - sub)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Counters.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      Counters.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      Counters.shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      Counters.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      Counters.gcMs.addAndGet(m.jvmGCTime)
      Counters.cpuNs.addAndGet(m.executorCpuTime)
    }
  }
}

/** Every progress event of every streaming query, kept in full:
  * `StreamingQuery.recentProgress` retains only the last 100.
  */
class ProgressLog extends StreamingQueryListener {
  private val events = ArrayBuffer.empty[StreamingQueryProgress]
  def all: Seq[StreamingQueryProgress] = synchronized(events.toSeq)
  def clear(): Unit = synchronized(events.clear())
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized(events += e.progress)
}
