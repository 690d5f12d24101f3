package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** Subscription lifecycle states, published under the reference's own
  * vocabulary (`processor/.../runtime/SubscriptionStateListener.java:50-85`)
  * so a user's existing health checks translate 1:1. Expected transitions —
  * the reference's diagram verbatim:
  *
  * {{{
  *                  ┌───┐
  *                  │   v
  * INITIALIZING -> RUNNING <-> REBALANCING ┐
  *                    │                    v
  *                    └──────> SHUTTING_DOWN -> TERMINATED
  * }}}
  *
  * Spark mapping (one "subscription" = one named streaming query):
  *   - INITIALIZING — the query run started (sources being resolved, offsets
  *     restored from the checkpoint); reference: subscription thread entered
  *     `run()` before `consumeManager.init` (`ProcessorSubscription.java:232`).
  *   - RUNNING — a micro-batch completed with the same partition assignment
  *     as the previous one (first batch of a run counts); reference:
  *     `updateAssignment` → RUNNING (`ProcessorSubscription.java:99`).
  *   - REBALANCING — the source's partition assignment CHANGED between
  *     micro-batches (topic expanded mid-run, subscribe-mode metadata
  *     refresh); published before the RUNNING of the batch that absorbed the
  *     change, mirroring prepareForRebalance → updateAssignment
  *     (`ProcessorSubscription.java:77,99`). Spark's analog of a consumer
  *     rebalance is the trigger boundary: the old plan's partitions are all
  *     "revoked" at batch end and the new batch plans the new assignment.
  *   - SHUTTING_DOWN — stop requested; in-flight work drains
  *     (`ProcessorSubscription.java:256-264`). Published by
  *     [[SubscriptionStateBridge.stopGracefully]] at the stop request, or
  *     synthesized just before TERMINATED when the query ends without one
  *     (the reference always passes through SHUTTING_DOWN, error paths
  *     included).
  *   - TERMINATED — the run is fully torn down
  *     (`ProcessorSubscription.java:288`, cleanUp).
  *
  * A RESTARTED query (same name, new runId) begins a new INITIALIZING →
  * RUNNING sequence, exactly like a re-built ProcessorSubscription on the
  * same subscription id — the rebalance-recovery story RebalanceStormSpec
  * drives.
  */
object SubscriptionStates {

  sealed abstract class State(val name: String) {
    override def toString: String = name
  }
  case object INITIALIZING extends State("INITIALIZING")
  case object REBALANCING extends State("REBALANCING")
  case object RUNNING extends State("RUNNING")
  case object SHUTTING_DOWN extends State("SHUTTING_DOWN")
  case object TERMINATED extends State("TERMINATED")

  /** The reference's listener SPI (`SubscriptionStateListener.java:93-99`):
    * called at each transition; exceptions are logged and swallowed, never
    * propagated into the engine (`ProcessorSubscription.updateState:208-217`).
    */
  @FunctionalInterface
  trait SubscriptionStateListener {
    def onChange(newState: State): Unit
  }

  /** Attach a state bridge for the named query to the session's listener
    * bus. Returns the bridge; call [[SubscriptionStateBridge.detach]] (or
    * `spark.streams.removeListener`) when done.
    */
  def attach(
      spark: SparkSession,
      queryName: String,
      listeners: SubscriptionStateListener*): SubscriptionStateBridge = {
    val b = new SubscriptionStateBridge(spark, queryName, listeners)
    spark.streams.addListener(b)
    b
  }

  /** Partition-assignment signature of a progress event: the set of
    * source-offset coordinates in the per-source end-offset JSONs. For
    * graft-kafka (and the real Kafka source — same checkpoint JSON shape
    * `{"topic":{"0":12}}`) that is the (source, topic, partition) set; for
    * graft-jsonl's and graft-warc's flat `{"a.jsonl":123}` shape it is the
    * (source, file) set (a new segment joining the tail IS the medium's
    * partition-added event); for sources without per-partition offsets (memory, rate —
    * offsets are bare numbers) it degrades to the source description set,
    * which never flags a rebalance — correct, since such sources have no
    * partition assignment to change.
    */
  // hoisted: recompiling three regexes per progress event is waste on the
  // shared listener dispatch thread. These mirror the checkpoint shapes the
  // offset serializers emit (GraftKafkaOffset nested {"topic":{"0":12}},
  // FileTailOffset flat {"name":pos} for graft-jsonl and graft-warc) — a
  // format change there must be reflected here for rebalance detection to
  // keep firing.
  // Both name patterns are escape-aware ((?:[^"\\]|\\.)*) — the serializers
  // escape quotes/backslashes in topic and file names (OffsetJson.escape),
  // and a non-escape-aware match would mis-split on the embedded \" and
  // produce a mangled key that can collide with a DIFFERENT topic's key,
  // masking a real rebalance. Names are unescaped so the signature key is
  // the actual topic/file name.
  private val partKeys = """"((?:[^"\\]|\\.)*)"\s*:\s*\{([^}]*)\}""".r
  private val partNum = """"([0-9]+)"\s*:""".r
  private val flatKeys = """"((?:[^"\\]|\\.)*)"\s*:\s*-?[0-9]""".r

  private[graft] def assignmentSignature(
      p: org.apache.spark.sql.streaming.StreamingQueryProgress): Set[String] = {
    import graft.sources.OffsetJson.unescape
    p.sources.zipWithIndex.flatMap { case (s, i) =>
      val json = Option(s.endOffset).getOrElse("")
      val nested = partKeys.findAllMatchIn(json).flatMap { tb =>
        partNum.findAllMatchIn(tb.group(2)).map(po => s"$i:${unescape(tb.group(1))}/${po.group(1)}")
      }.toSeq
      val keys =
        if (nested.nonEmpty) nested
        else flatKeys.findAllMatchIn(json).map(m => s"$i:${unescape(m.group(1))}").toSeq
      if (keys.nonEmpty) keys else Seq(s"$i:${s.description}")
    }.toSet
  }
}

/** The `StreamingQueryListener` bridging one named query's lifecycle to the
  * reference's state vocabulary. Thread-safe; transitions are published in
  * order and deduplicated (a RUNNING batch after a RUNNING batch is not a
  * transition — the reference's cooperative-mode RUNNING → RUNNING self-loop
  * is collapsed, matching how its own log reads at steady state).
  */
final class SubscriptionStateBridge(
    spark: SparkSession,
    val queryName: String,
    listeners: Seq[SubscriptionStates.SubscriptionStateListener]) extends StreamingQueryListener {

  import SubscriptionStates._

  // runIds of started runs of the watched query (terminated events carry no
  // name, only ids). `currentRun` is the LATEST run: start events arrive
  // synchronously on the starting thread while progress/terminated drain
  // from the async listener bus (SPARK-18144), so a restart can interleave
  // run2's INITIALIZING before run1's late SHUTTING_DOWN/TERMINATED — a
  // superseded run's terminal events must not wedge the new run's bridge
  // in TERMINATED.
  private val watchedRuns = ConcurrentHashMap.newKeySet[java.util.UUID]()
  @volatile private var currentRun: Option[java.util.UUID] = None
  private val historyBuf = scala.collection.mutable.ArrayBuffer.empty[State]
  private val HistoryCap = 4096 // bounded: an always-on monitor must not grow with uptime
  @volatile private var stateVar: Option[State] = None
  // per-run: reset at each start. A restart's first progress publishes its
  // assignment fresh (the new subscription's first assignment is just
  // updateAssignment → RUNNING in the reference too), so no cross-run
  // signature comparison exists — the stateVar RUNNING gate below already
  // makes one unreachable.
  @volatile private var lastSignature: Option[Set[String]] = None

  def currentState: Option[State] = stateVar
  def history: Seq[State] = synchronized { historyBuf.toList }

  def detach(): Unit = spark.streams.removeListener(this)

  /** The graceful-stop path: publish SHUTTING_DOWN at the stop REQUEST (the
    * reference flips `terminated` and the consume loop publishes before
    * draining, `ProcessorSubscription.java:245-258`), then stop the query.
    * Spark's `stop()` CANCELS the in-flight micro-batch rather than
    * draining it (tasks are interrupted) — SHUTTING_DOWN marks the intent
    * window, and the engine's drain analog is that effectively-once sinks
    * make the cancelled batch safe to replay on the next start.
    */
  def stopGracefully(query: StreamingQuery): Unit = {
    require(query.name == queryName,
      s"bridge watches '$queryName' but stopGracefully got '${query.name}' — " +
        "stopping an unrelated query would wedge this bridge in SHUTTING_DOWN")
    publish(SHUTTING_DOWN)
    query.stop()
  }

  // accepted transitions awaiting listener delivery, in state order
  // (enqueued inside the monitor, so queue order == history order)
  private val pendingNotify = new java.util.concurrent.ConcurrentLinkedQueue[State]()
  private val drainingNotify = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def publish(s: State): Unit = {
    val notify = synchronized {
      val ok = (stateVar, s) match {
        case (Some(cur), next) if cur == next => false // self-loop collapsed
        // terminal: nothing follows TERMINATED until a new run INITIALIZES
        case (Some(TERMINATED), next) => next == INITIALIZING
        // draining: progress events from the in-flight batch must not pull the
        // state back to RUNNING (tasks already in process continue — the
        // reference's SHUTTING_DOWN contract)
        case (Some(SHUTTING_DOWN), next) => next == TERMINATED || next == INITIALIZING
        case _ => true
      }
      if (ok) {
        stateVar = Some(s)
        historyBuf += s
        if (historyBuf.size > HistoryCap) historyBuf.remove(0, historyBuf.size - HistoryCap)
        pendingNotify.add(s)
      }
      ok
    }
    // Listeners run OUTSIDE the monitor (a blocking onChange must not stall
    // other publishers or, transitively, Spark's shared listener bus), but
    // IN ORDER: the query-start thread and the listener-bus thread publish
    // concurrently on a restart, and two threads racing plain callbacks
    // could deliver INITIALIZING before the older SHUTTING_DOWN/TERMINATED
    // even though the history is correctly ordered. A single active drainer
    // delivers the FIFO queue; a publisher that loses the CAS returns
    // immediately (its transition is delivered by the active drainer), so
    // nothing ever blocks behind a slow listener.
    if (notify) drainNotifications()
  }

  private def drainNotifications(): Unit =
    while (!pendingNotify.isEmpty && drainingNotify.compareAndSet(false, true)) {
      try {
        var st = pendingNotify.poll()
        while (st != null) {
          listeners.foreach { l =>
            try l.onChange(st)
            catch {
              case e: Exception =>
                // the reference's contract: a throwing listener is the user's
                // bug to observe in logs, never the subscription's to die of
                System.err.println(s"[graft] state listener threw at $st: $e")
            }
          }
          st = pendingNotify.poll()
        }
      } finally drainingNotify.set(false)
      // loop: an item enqueued after our last poll but before the flag
      // release would otherwise sit undelivered until the next publish
    }

  override def onQueryStarted(event: StreamingQueryListener.QueryStartedEvent): Unit =
    if (event.name == queryName) {
      synchronized {
        watchedRuns.add(event.runId)
        currentRun = Some(event.runId)
        lastSignature = None
      }
      publish(INITIALIZING)
    }

  override def onQueryProgress(event: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = event.progress
    // Match by runId OR by name: a bridge attached after the query started
    // (monitoring reattach) never saw the start event but must not be dead
    // for the whole run — progress carries the name, so adopt the run.
    // Adoption requires currentRun.isEmpty: only a bridge that has never
    // owned a run may adopt. An unconditional adoption would let a
    // SUPERSEDED run's late progress (queued on the async bus across a fast
    // restart) steal currentRun back from the new run, after which the old
    // run's terminated event passes the currentRun guard and wedges the
    // bridge in TERMINATED for the new run's whole life.
    val owns = synchronized {
      if (!watchedRuns.contains(p.runId) && queryName == p.name && currentRun.isEmpty) {
        watchedRuns.add(p.runId)
        currentRun = Some(p.runId)
      }
      currentRun.contains(p.runId)
    }
    if (owns) {
      val sig = assignmentSignature(p)
      if (lastSignature.exists(prev => prev != sig && stateVar.contains(RUNNING)))
        publish(REBALANCING)
      lastSignature = Some(sig)
      publish(RUNNING)
    }
  }

  override def onQueryIdle(event: StreamingQueryListener.QueryIdleEvent): Unit =
    () // idle is RUNNING with an empty poll — no transition

  override def onQueryTerminated(event: StreamingQueryListener.QueryTerminatedEvent): Unit =
    if (synchronized { watchedRuns.remove(event.runId) && currentRun.contains(event.runId) }) {
      // a SUPERSEDED run's late terminal events are dropped: the new run
      // already owns the bridge (see currentRun note above)
      publish(SHUTTING_DOWN) // no-op if stopGracefully already published it
      publish(TERMINATED)
    }
}
