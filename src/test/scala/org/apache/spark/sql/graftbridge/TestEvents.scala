package org.apache.spark.sql.graftbridge

import java.util.UUID

import org.apache.spark.sql.streaming.{SinkProgress, SourceProgress, StreamingQueryListener, StreamingQueryProgress}

/** Test-only factory for streaming listener events. Their constructors are
  * `private[sql]`/`private[spark]`, so race-interleaving tests (which must
  * deliver events in a SPECIFIC order no real query pair reproduces
  * deterministically) build them from inside the package namespace — the
  * same extension-library idiom as [[GraftBridge]]. Never used by main code.
  */
object TestEvents {
  private val Ts = "1970-01-01T00:00:00.001Z"
  private def emptyMap[V]: java.util.Map[String, V] = java.util.Collections.emptyMap[String, V]()

  def started(runId: UUID, name: String): StreamingQueryListener.QueryStartedEvent =
    new StreamingQueryListener.QueryStartedEvent(UUID.randomUUID(), runId, name, Ts)

  def progress(runId: UUID, name: String, endOffsets: String*): StreamingQueryListener.QueryProgressEvent = {
    val srcs = endOffsets.toArray.map { off =>
      new SourceProgress("test-source", "{}", off, off, 0L, 0.0, 0.0, emptyMap[String])
    }
    val p = new StreamingQueryProgress(
      UUID.randomUUID(), runId, name, Ts, 0L, 0L,
      emptyMap[java.lang.Long], emptyMap[String],
      Array.empty, srcs, new SinkProgress("test-sink"),
      emptyMap[org.apache.spark.sql.Row])
    new StreamingQueryListener.QueryProgressEvent(p)
  }

  def terminated(runId: UUID): StreamingQueryListener.QueryTerminatedEvent =
    new StreamingQueryListener.QueryTerminatedEvent(UUID.randomUUID(), runId, None, None)

  /** The SparkListeners attached to `sc`'s bus (`private[spark]`), so a
    * spec can see that a profile window detached its listener.
    */
  def sparkListeners(sc: org.apache.spark.SparkContext): Seq[AnyRef] = {
    import scala.jdk.CollectionConverters._
    sc.listenerBus.listeners.asScala.toSeq
  }
}
