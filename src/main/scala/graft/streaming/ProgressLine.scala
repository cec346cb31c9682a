package graft.streaming

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Live telemetry for a long-running stream: each trigger's
  * `StreamingQueryProgress` as one compact JSON line — input and processed
  * rows/s, batch duration split by phase (`durationMs.walCommit`,
  * `commitOffsets`, …), state rows, bytes and commit time per stateful
  * operator, and the event-time watermark. `graft.Service` registers it.
  */
class ProgressLine(emit: String => Unit = println) extends StreamingQueryListener {
  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryProgress(event: QueryProgressEvent): Unit = emit(event.progress.json)
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
}
