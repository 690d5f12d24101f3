package graft.streaming

import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}
import java.util.concurrent.locks.LockSupport
import java.util.concurrent.{ConcurrentSkipListMap, Executors, LinkedBlockingQueue, TimeoutException}

import scala.collection.mutable
import scala.concurrent.duration._
import scala.concurrent.{ExecutionContext, Future, Promise}

import org.apache.spark.sql.{Dataset, Encoder}

/** T4 — what to do when an in-flight task exceeds its completion timeout
  * (`Completion.java:24-55`: the timeout callback returns EXTEND to grant
  * another timeout period or GIVE_UP to complete the offset anyway;
  * `OffsetStateReaper.java:50-72` drives the callback;
  * `ProcessorProperties.java:172-198` configures the interval).
  */
sealed trait TimeoutDecision
object TimeoutDecision {
  /** Grant the task another `timeout` period. */
  case object Extend extends TimeoutDecision
  /** Abandon the task: its key unblocks, and the record is emitted through
    * `onGiveUp` (an error-shaped row — the tri-state/error stream), so the
    * batch completes instead of stalling.
    */
  case object GiveUp extends TimeoutDecision
}

/** Per-task completion policy for the async operators. `onTimeout(task, n)`
  * is called after each elapsed timeout period (n = extensions so far);
  * `onGiveUp` converts the abandoned task to the operator's output type.
  *
  * `dynamicTimeoutMs`, when set, is consulted before EVERY wait, so a
  * hot-reloaded `decaton.deferred.complete.timeout.ms` re-times in-flight
  * waits in the same JVM immediately and executor-side tasks from the next
  * trigger onward (the closure re-serializes per batch — the trigger-boundary
  * reload posture of SURVEY §2.8 P4). A negative value reproduces the
  * reference default `-1` = reaper disabled (`ProcessorProperties.java:196-198`):
  * the wait is unbounded and `onTimeout` never fires.
  */
final case class CompletionPolicy[T, U](
    timeout: FiniteDuration,
    onTimeout: (T, Int) => TimeoutDecision,
    onGiveUp: T => U,
    dynamicTimeoutMs: Option[() => Long] = None) {
  /** Timeout for the next wait. */
  def nextTimeout: Duration = dynamicTimeoutMs match {
    case Some(f) =>
      val ms = f()
      if (ms < 0L) Duration.Inf else FiniteDuration(ms, MILLISECONDS)
    case None => timeout
  }
}

object CompletionPolicy {
  /** Reference-default posture before T4 existed here: give up by throwing,
    * which fails the Spark task and replays the partition (at-least-once).
    */
  def failTask[T, U](timeout: FiniteDuration = 10.minutes): CompletionPolicy[T, U] =
    CompletionPolicy(
      timeout,
      (_, _) => TimeoutDecision.GiveUp,
      t => throw new TimeoutException(s"task did not complete within $timeout: $t"))

  /** Policy bound to the typed property registry's
    * `decaton.deferred.complete.timeout.ms` ([[graft.config.EngineProperties
    * .DeferredCompleteTimeoutMs]]): the timeout re-resolves from the live
    * [[graft.config.DynamicProperty]] on every wait, so a config-file
    * edit re-times deferred completions without a query restart.
    */
  def fromProperty[T, U](
      timeoutMs: graft.config.DynamicProperty[Long],
      onTimeout: (T, Int) => TimeoutDecision,
      onGiveUp: T => U): CompletionPolicy[T, U] =
    CompletionPolicy(
      FiniteDuration(math.max(0L, timeoutMs.value), MILLISECONDS),
      onTimeout, onGiveUp, Some(() => timeoutMs.value))
}

/** The reference's headline capability — concurrent processing of a single
  * partition with per-key ordering (`docs/why-decaton.adoc`; per-key FIFO
  * worker queues `ThreadPoolSubPartitions.java:38-118` / virtual-thread-per-
  * key `VirtualThreadSubPartitions.java:34-81`) — re-expressed for Spark's
  * execution model.
  *
  * Spark parallelism is partition-level; an I/O-bound `map` (4 ms RPC × 5 per
  * record) would cap throughput at partitions/latency. [[mapAsyncKeyed]]
  * multiplexes many in-flight records per partition on an executor-JVM-wide
  * pool, while chaining same-key records through dependent futures — a future
  * chain IS a per-key FIFO queue, so the reference's SERIAL_PROCESSING and
  * PROCESS_ORDERING guarantees hold inside each partition, and cross-key work
  * overlaps freely.
  *
  * Emission contract (the reference's out-of-order commit, O1): same-key
  * records leave in input order; records of different keys leave in
  * completion order, so a slow record holds back only its own key.
  * Back-pressure (O5, `max.pending.records`): a partition admits input while
  * fewer than `maxInFlight` records are in flight, where in flight means
  * admitted but not yet emitted. The micro-batch stays the commit unit, so
  * at-least-once replay per micro-batch is unchanged.
  */
object AsyncProcessing {

  /** Executor-JVM-wide I/O pool (shared by all partitions on the executor —
    * the analog of the reference's per-partition thread pools, sized once).
    * FIXED, not cached: with thousands of in-flight blocking calls a cached
    * pool finds no idle thread at submit time and pays a thread spawn per
    * task (~50 µs, which capped throughput at ~20k tasks/s); fixed threads
    * persist across tasks. Size via `graft.async.io.threads` (default 2048).
    */
  private lazy val ioPool: ExecutionContext = {
    val n = sys.props.getOrElse("graft.async.io.threads", "2048").toInt
    val pool = Executors.newFixedThreadPool(n, r => {
      // small explicit stack: these threads only block on I/O (or sleep);
      // thousands of default 1 MiB stacks would waste native memory and can
      // trip container thread limits
      val t = new Thread(null, r, "graft-async-io", 256 * 1024)
      t.setDaemon(true)
      t
    }).asInstanceOf[java.util.concurrent.ThreadPoolExecutor]
    // Prestart ALL core threads before first use. Until the pool is full,
    // ThreadPoolExecutor.execute() adds a core worker INLINE on every
    // submit — so with fewer submits than core threads the pool NEVER fills
    // and every single admission pays a thread spawn. On kernels where a
    // spawn costs ~1 ms behind a process-wide lock (measured on this
    // container class: 2048 spawns ≈ 1.5 s serial, ~1.1 s with 16 parallel
    // spawners — clone() is the bottleneck, not JVM setup), that serializes
    // admission at ~1 ms/task and reads as "no I/O overlap". Paying the
    // ~1 s once at init, off the submit path, keeps admission at memory
    // speed; prestarting from 16 spawners shaves what the kernel allows.
    val spawners = (0 until 16).map { i =>
      val t = new Thread(null, () => { while (pool.prestartCoreThread()) {} },
        s"graft-async-io-prestart-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    spawners.foreach(_.join())
    ExecutionContext.fromExecutorService(pool)
  }

  /** Map `f` over the dataset with up to `maxInFlight` records in flight
    * per partition, same-key records strictly serial and in order. Each
    * in-flight record occupies one pool thread (blocking-client I/O — the
    * THREAD_POOL runtime analog); for future-returning clients use
    * [[flatMapAsyncKeyed]], which holds no thread while I/O is in flight.
    *
    * Serialism is per partition — route equal keys to one partition first
    * (`repartition(n, keyCol)` / [[graft.api.TaskPipeline.orderedPerKey]]),
    * exactly as the reference hashes keys to worker queues before its
    * per-queue serial execution (`DefaultSubPartitioner.java:26-58`).
    */
  def mapAsyncKeyed[T, K, U](
      ds: Dataset[T],
      maxInFlight: Int)(
      keyFn: T => K,
      f: T => U)(
      implicit encU: Encoder[U]): Dataset[U] =
    mapAsyncKeyed(ds, maxInFlight, CompletionPolicy.failTask[T, U]())(keyFn, f)

  /** [[mapAsyncKeyed]] with an explicit T4 completion policy: a task that
    * outlives `policy.timeout`, counted from the task's start, triggers
    * `policy.onTimeout` — EXTEND grants another period, GIVE_UP emits
    * `policy.onGiveUp(task)` in the task's place and unblocks its key chain
    * instead of stalling the partition. The reaper watches the oldest
    * in-flight record, as the reference's reaper watches the oldest
    * uncommitted offset.
    */
  def mapAsyncKeyed[T, K, U](
      ds: Dataset[T],
      maxInFlight: Int,
      policy: CompletionPolicy[T, U])(
      keyFn: T => K,
      f: T => U)(
      implicit encU: Encoder[U]): Dataset[U] =
    asyncKeyedImpl(ds, maxInFlight, policy)(keyFn, t => Future(f(t))(ioPool))

  /** True-async variant for future-returning I/O clients (async HTTP/RPC):
    * the same per-key chaining and emission contract — per-key order,
    * completion order across keys — but an in-flight record holds NO thread:
    * completion is driven by the client's own machinery. This is the
    * VIRTUAL_THREAD-runtime analog (`VirtualThreadSubPartitions.java:34-81`):
    * the bound is on records in flight (admitted but not yet emitted), not on
    * threads, so tens of thousands of concurrent I/Os per executor are
    * practical.
    */
  def flatMapAsyncKeyed[T, K, U](
      ds: Dataset[T],
      maxInFlight: Int)(
      keyFn: T => K,
      f: T => Future[U])(
      implicit encU: Encoder[U]): Dataset[U] =
    flatMapAsyncKeyed(ds, maxInFlight, CompletionPolicy.failTask[T, U]())(keyFn, f)

  /** [[flatMapAsyncKeyed]] with an explicit T4 completion policy (see the
    * policy-taking [[mapAsyncKeyed]] overload).
    */
  def flatMapAsyncKeyed[T, K, U](
      ds: Dataset[T],
      maxInFlight: Int,
      policy: CompletionPolicy[T, U])(
      keyFn: T => K,
      f: T => Future[U])(
      implicit encU: Encoder[U]): Dataset[U] =
    asyncKeyedImpl(ds, maxInFlight, policy)(keyFn,
      t => try f(t) catch { case scala.util.control.NonFatal(e) => Future.failed(e) })

  /** One admitted record: its key, the gate its same-key successor chains
    * on, a settle-once latch (completion and give-up race, and only the
    * winner emits the record), its outcome, and its T4 state: the start of
    * its current timeout period (its start, moved on by each EXTEND) and
    * the extensions granted so far.
    */
  private final class InFlight[T, K, U](val task: T, val key: K) {
    val gate = Promise[Unit]()
    val settled = new AtomicBoolean(false)
    var result: scala.util.Try[U] = _
    @volatile var periodStart = 0L
    var extensions = 0
  }

  /** Shared machinery of the async operators: the reference's out-of-order
    * commit (`OutOfOrderCommitControl`) inside one partition. Records leave
    * in COMPLETION order. A completion callback settles its record and puts
    * it on the partition's completion queue BEFORE it completes the record's
    * gate, and a same-key successor starts only on that gate, so per-key
    * order holds by construction while keys overtake each other freely.
    * Same-key records chain on the GATE rather than on the result: the gate
    * also completes on give-up, so an abandoned record releases its key for
    * successors, as reaping a leaked completion lets the reference's per-key
    * queue advance (`OffsetStateReaper.java:50-72`).
    */
  private def asyncKeyedImpl[T, K, U](
      ds: Dataset[T],
      maxInFlight: Int,
      policy: CompletionPolicy[T, U])(
      keyFn: T => K,
      run: T => Future[U])(
      implicit encU: Encoder[U]): Dataset[U] = {
    ds.mapPartitions { it =>
      // Chain GLUE — the onComplete callbacks below (settling, enqueueing,
      // gate completion, dispatching the successor) — runs parasitic: inline
      // on whatever thread completed the previous stage. Routing it through
      // the pool cost a park/unpark handoff per hop (~50 µs on a typical
      // kernel, 0.3-1 ms on slow-thread-op container kernels; HISTORY.md,
      // "Retired probes") for a few field writes.
      // Blocking user work still runs on the pool: mapAsyncKeyed dispatches
      // f via Future(...)(ioPool); flatMapAsyncKeyed's f is non-blocking by
      // contract (future-returning client), so inlining it is exactly the
      // "continuations run on the completing thread" posture its docs state.
      implicit val glue: ExecutionContext = ExecutionContext.parasitic
      val completed = new LinkedBlockingQueue[InFlight[T, K, U]]()
      val chains = mutable.Map.empty[K, Future[Unit]]
      // admitted but not yet emitted, oldest first: its size is the in-flight
      // count the admission bound holds (`max.pending.records`, O5), and its
      // head is the record the T4 reaper watches
      val pending = mutable.LinkedHashSet.empty[InFlight[T, K, U]]

      def admit(t: T): Unit = {
        val rec = new InFlight[T, K, U](t, keyFn(t))
        // become the key's chain tail, and start once the previous tail's gate completes
        chains.put(rec.key, rec.gate.future).getOrElse(Future.unit).onComplete { _ =>
          rec.periodStart = System.nanoTime()
          run(t).onComplete { r =>
            if (rec.settled.compareAndSet(false, true)) { rec.result = r; completed.put(rec) }
            rec.gate.trySuccess(())
          }
        }
        pending += rec
      }

      new Iterator[U] {
        def hasNext: Boolean = {
          while (pending.size < maxInFlight && it.hasNext) admit(it.next())
          pending.nonEmpty
        }
        /** The next settled record: the next completion, or the oldest
          * pending record once the policy gives it up. That record has
          * started, or is about to: its same-key predecessor has been
          * emitted, so the predecessor's gate is complete or completes right
          * after its enqueue. Its timeout therefore counts from its start.
          */
        def next(): U = {
          if (!hasNext) throw new NoSuchElementException("no more records")
          var rec: InFlight[T, K, U] = null
          while (rec == null) {
            val head = pending.head
            rec = policy.nextTimeout match {
              case d: FiniteDuration if !head.settled.get =>
                val start = if (head.periodStart != 0L) head.periodStart else System.nanoTime()
                completed.poll(start + d.toNanos - System.nanoTime(), NANOSECONDS)
              case _ => completed.take() // head settled (queued, or about to be), or -1 = never
            }
            if (rec == null && !head.settled.get) policy.onTimeout(head.task, head.extensions) match {
              case TimeoutDecision.Extend =>
                head.extensions += 1
                head.periodStart = System.nanoTime()
              case TimeoutDecision.GiveUp if head.settled.compareAndSet(false, true) =>
                // abandon: emit the error-shaped row now, then unblock the
                // key (a late completion finds the record already settled)
                head.result = scala.util.Try(policy.onGiveUp(head.task))
                head.gate.trySuccess(())
                rec = head
              case TimeoutDecision.GiveUp => // completed meanwhile: it is queued
            }
          }
          pending -= rec
          // a key whose chain ends at this record leaves the map (consumer
          // thread only), so the map holds only keys with records in flight.
          // The record's run has completed, or it was given up with its gate
          // already complete, so a later same-key record starting on
          // Future.unit keeps the key's order
          if (chains.getOrElse(rec.key, null) eq rec.gate.future) chains.remove(rec.key)
          rec.result.get // a failed task fails the Spark task
        }
      }
    }
  }

  /** Hashed timing wheel (Varghese & Lauck, SOSP '87) for simulating async
    * I/O latency at scale. ScheduledThreadPoolExecutor parks per fire (and
    * the kernel adds ~50 µs timer slack per park), capping it near 100k
    * fires/s; the wheel parks once per due bucket and fires the whole
    * bucket, so millions of outstanding timers complete at memory speed.
    *
    * Deadlines are on the monotonic clock. A deadline belongs to the
    * [[TickNs]] tick it rounds UP to, and a bucket fires only once
    * `floor(now / TickNs)` has reached its tick, so no body fires before
    * its deadline. The ticker parks until its earliest bucket is due (at
    * most [[MaxParkNs]]), and with nothing pending until a schedule unparks
    * it. Draining a bucket first swaps in the [[Closed]] sentinel: a body
    * that lands on a closed bucket is due, so it fires inline, and the
    * drained bucket leaves the map at once.
    */
  private final class Wheel {
    private val buckets = new ConcurrentSkipListMap[Long, AtomicReference[Timer]]()
    /** The tick the parked ticker wakes for: a schedule into an earlier
      * tick unparks it. Long.MinValue while it runs, Long.MaxValue while
      * nothing is pending.
      */
    @volatile private var wakeTick = Long.MinValue
    private val ticker = new Thread(null, () => while (true) turn(), "graft-async-wheel", 1 << 20)
    ticker.setDaemon(true)
    ticker.start()

    /** Fire every due bucket, then park until the next one is due. */
    private def turn(): Unit = {
      val now = Math.floorDiv(System.nanoTime(), TickNs)
      var due = buckets.firstEntry()
      while (due != null && due.getKey <= now) {
        var t = due.getValue.getAndSet(Closed)
        buckets.remove(due.getKey, due.getValue)
        while (t != null) {
          // a throwing body must not kill the ticker (every other timer
          // on this wheel would silently never fire again)
          try t.body() catch { case scala.util.control.NonFatal(_) => }
          t = t.next
        }
        due = buckets.firstEntry()
      }
      val next = if (due == null) Long.MaxValue else due.getKey
      wakeTick = next
      // a schedule that read wakeTick before this write did not unpark, but
      // its bucket is in the map by then: look once more before parking
      val first = buckets.firstEntry()
      if (first == null || first.getKey >= next) {
        if (next == Long.MaxValue) LockSupport.park(this)
        else LockSupport.parkNanos(this, math.min(MaxParkNs, next * TickNs - System.nanoTime()))
      }
      wakeTick = Long.MinValue
    }

    def schedule(deadlineNanos: Long)(body: () => Unit): Unit = {
      val tick = -Math.floorDiv(-deadlineNanos, TickNs)
      if (tick <= Math.floorDiv(System.nanoTime(), TickNs)) body() // already due: fire inline
      else {
        val bucket = buckets.computeIfAbsent(tick, _ => new AtomicReference[Timer]())
        var head = bucket.get
        while ((head ne Closed) && !bucket.compareAndSet(head, new Timer(body, head))) head = bucket.get
        if (head eq Closed) body() // drained while we pushed: due, fire inline
        else if (tick < wakeTick) LockSupport.unpark(ticker)
      }
    }
  }

  /** A bucket's timers, pushed by CAS as a list. */
  private final class Timer(val body: () => Unit, val next: Timer)
  /** Head of a drained bucket: pushes onto it fail. */
  private val Closed = new Timer(() => (), null)
  private val TickNs = 100000L
  private val MaxParkNs = 1000000L

  /** Independent wheel shards: one ticker thread fires ~250k bodies/s
    * (promise completion + next-hop scheduling run inline on the ticker).
    * Two, not more: each shard wakes up to once per tick, and four shards
    * cost about 30% more CPU per task on `async_io` (HISTORY.md, "A
    * precise timer wheel").
    */
  private lazy val wheels: Array[Wheel] = Array.fill(2)(new Wheel)

  /** A future that completes once `delayMillis` have passed, without
    * holding a thread. It never completes early: the deadline is
    * `System.nanoTime()` plus the delay, and the wheel fires no bucket
    * before its deadline. It completes late by the ticker's wake, 0.1 ms
    * of tick rounding plus the kernel's park slack, which has no fixed
    * bound; a chain of n delays is late by the sum.
    */
  def delayed[U](delayMillis: Long)(value: => U): Future[U] = {
    val p = scala.concurrent.Promise[U]()
    val w = wheels(java.util.concurrent.ThreadLocalRandom.current().nextInt(wheels.length))
    // Try(value): a throwing body must FAIL the future — trySuccess would
    // evaluate the by-name value inside the wheel ticker, whose NonFatal
    // guard discards the exception and leaves the promise pending forever
    w.schedule(System.nanoTime() + MILLISECONDS.toNanos(delayMillis))(() =>
      p.tryComplete(scala.util.Try(value)))
    p.future
  }
}
