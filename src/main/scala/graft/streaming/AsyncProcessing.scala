package graft.streaming

import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}
import java.util.concurrent.locks.LockSupport
import java.util.concurrent.{Executors, LinkedBlockingQueue, TimeoutException}

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
    * fires/s; a wheel fires a whole bucket per turn, so millions of
    * outstanding timers complete at memory speed.
    *
    * Each wheel is its own ticker thread, the only thread that touches its
    * ring: [[RingSize]] buckets of one [[TickNs]] tick each, bucket `i`
    * holding the timers whose tick is `≡ i` modulo the ring. A timer keeps
    * its absolute tick, so one further out than the ring's span stays in
    * its bucket for as many laps as it needs. Other threads hand timers
    * over through a lock-free inbox; a body running on the ticker (a
    * chain's next hop) adds its timer to the ring directly.
    *
    * Deadlines are on the monotonic clock. A deadline belongs to the tick
    * it rounds UP to, and a tick's timers fire only once
    * `floor(System.nanoTime() / TickNs)` has reached it, so none fires
    * before its deadline. The ticker parks until its next tick is due
    * minus the park overshoot it has measured, then spins out the rest
    * with `Thread.onSpinWait`, watching its inbox for an earlier deadline;
    * a schedule earlier than the one the parked ticker waits for unparks
    * it. With nothing pending it parks with no deadline.
    */
  private final class Wheel extends Thread(null, null, "graft-async-wheel", 1 << 20) {
    private val ring = new Array[Timer](RingSize)
    /** Timers in the ring. */
    private var pending = 0
    /** Every tick up to the cursor has fired. */
    private var cursor = Math.floorDiv(System.nanoTime(), TickNs)
    /** Timers scheduled by other threads, CAS-pushed as a list. */
    private val inbox = new AtomicReference[Timer]()
    /** The tick the parked ticker wakes for (Long.MaxValue: none); a
      * schedule into an earlier tick unparks it. Long.MinValue while the
      * ticker runs or spins, when it watches the inbox itself.
      */
    @volatile private var wakeTick = Long.MinValue
    /** How much later than asked a park returns: a smoothed measurement. */
    private var overshootNs = 50000L
    /** Spin time the ticker may still spend, and when it was last earned. */
    private var credit = 0L
    private var creditAt = System.nanoTime()
    setDaemon(true)
    start()

    override def run(): Unit = while (true) {
      advance(Math.floorDiv(System.nanoTime(), TickNs))
      var t = inbox.getAndSet(null)
      while (t != null) { val n = t.next; add(t); t = n }
      await(nextTick())
    }

    /** Adds a timer; on the ticker thread only. A due timer fires at once. */
    def add(t: Timer): Unit =
      if (t.tick - cursor <= 0) fire(t)
      else {
        val i = (t.tick & Mask).toInt
        t.next = ring(i)
        ring(i) = t
        pending += 1
      }

    /** Hands a timer to this wheel from another thread. */
    def offer(t: Timer): Unit = {
      do t.next = inbox.get while (!inbox.compareAndSet(t.next, t))
      if (t.tick < wakeTick) LockSupport.unpark(this)
    }

    /** Fires the buckets of the ticks after the cursor up to `now`, a lap
      * at most: every timer of those ticks, and none of a later lap.
      */
    private def advance(now: Long): Unit = {
      var k = if (pending == 0) now + 1 else math.max(cursor + 1, now - Mask)
      cursor = now
      while (k <= now) {
        val i = (k & Mask).toInt
        var t = ring(i)
        ring(i) = null
        while (t != null) {
          val n = t.next
          if (t.tick - now <= 0) { pending -= 1; fire(t) }
          else { t.next = ring(i); ring(i) = t }
          t = n
        }
        k += 1
      }
    }

    /** The next tick with a timer: the first bucket after the cursor that
      * holds a timer of its own tick, or, when every timer is a lap or more
      * away, the earliest of them all. Long.MaxValue with nothing pending.
      */
    private def nextTick(): Long = {
      var earliest = Long.MaxValue
      var k = cursor + 1
      while (pending > 0 && k <= cursor + RingSize) {
        var t = ring((k & Mask).toInt)
        while (t != null) {
          if (t.tick == k) return k
          earliest = math.min(earliest, t.tick)
          t = t.next
        }
        k += 1
      }
      earliest
    }

    /** Waits until `tick` is due (Long.MaxValue: no tick), or until the
      * inbox has timers. A tick further out than the measured overshoot
      * gets a park until that much before it, and the rest is spun out. A
      * nearer one is spun out while the ticker has spin credit, which it
      * earns at 1/[[SpinShare]] of the wall time, banking at most
      * [[SpinCreditCapNs]]; without credit it parks as briefly as the
      * kernel allows, and the ticks due meanwhile fire, late, when it
      * wakes. So sparse timers fire on time and a dense stream costs at
      * most that share of a core in spinning.
      */
    private def await(tick: Long): Unit = {
      val due = if (tick == Long.MaxValue) Long.MaxValue else tick * TickNs
      var now = System.nanoTime()
      credit = math.min(SpinCreditCapNs, credit + (now - creditAt) / SpinShare)
      creditAt = now
      val gap = due - now
      if (tick == Long.MaxValue || gap > overshootNs || (gap > 0 && credit < gap)) {
        wakeTick = tick
        // an offer that read wakeTick before that write has pushed by now
        if (inbox.get == null) {
          if (tick == Long.MaxValue) LockSupport.park(this)
          else {
            val ask = math.max(gap - overshootNs, 1L)
            LockSupport.parkNanos(this, ask)
            val over = System.nanoTime() - now - ask
            // an unpark returns early: only a full park measures the overshoot
            if (over >= 0) overshootNs += (math.min(over, MaxOvershootNs) - overshootNs) >> 3
          }
        }
        wakeTick = Long.MinValue
        now = System.nanoTime()
      }
      // spin out only the last stretch: a park that returned early (an
      // unpark, or spuriously) goes round the loop again instead
      if (tick != Long.MaxValue && due - now <= overshootNs) {
        val from = now
        while (due - now > 0 && inbox.get == null) {
          Thread.onSpinWait()
          now = System.nanoTime()
        }
        credit -= now - from
      }
    }

    private def fire(t: Timer): Unit =
      // a throwing body must not kill the ticker (every other timer on this
      // wheel would silently never fire again)
      try t.fire() catch { case scala.util.control.NonFatal(_) => }
  }

  /** A pending `delayed` call: the tick its deadline rounds up to, and
    * what firing does.
    */
  private abstract class Timer(val tick: Long) {
    var next: Timer = _
    def fire(): Unit
  }
  /** 10 µs ticks; a ring of 4,096 of them spans ~41 ms. */
  private val TickNs = 10000L
  private val RingSize = 4096
  private val Mask = RingSize - 1L
  /** A ticker spins at most one part in this many of the wall time... */
  private val SpinShare = 16L
  /** ...and banks at most this much of it while timers are sparse. */
  private val SpinCreditCapNs = 500000L
  /** A park that returns this much late is an outlier, not the kernel's slack. */
  private val MaxOvershootNs = 1000000L
  /** The longest delay: deadlines stay far from overflowing `nanoTime` arithmetic. */
  private val MaxDelayNs = Long.MaxValue / 4

  /** Independent wheel shards: one ticker thread fires ~250k bodies/s
    * (promise completion + next-hop scheduling run inline on the ticker).
    * Two, not more: every shard's ticker pays its own wakes and spinning,
    * and four shards of the earlier 0.1 ms wheel cost about 30% more CPU
    * per task on `async_io` (HISTORY.md, "A precise timer wheel").
    */
  private lazy val wheels: Array[Wheel] = Array.fill(2)(new Wheel)

  /** A future that completes once `delayMillis` have passed, without
    * holding a thread. It never completes early: the deadline is
    * `System.nanoTime()` plus the delay, and no timer fires before its
    * deadline. It completes late by the ticker's wake: the rest of the
    * 10 µs tick its deadline rounds up to, plus up to one park (~60 µs)
    * while timers are dense and the ticker parks instead of spinning. A
    * descheduled ticker adds more, so there is no fixed bound; a chain of
    * n delays is late by the sum. A delay beyond ~73 years is taken as
    * that long, so `delayed(Long.MaxValue)` never completes.
    */
  def delayed[U](delayMillis: Long)(value: => U): Future[U] = {
    val p = scala.concurrent.Promise[U]()
    val delayNs = math.min(MILLISECONDS.toNanos(math.max(delayMillis, 0L)), MaxDelayNs)
    // Try(value): a throwing body must FAIL the future; trySuccess would
    // evaluate the by-name value inside the wheel ticker, whose NonFatal
    // guard discards the exception and leaves the promise pending forever
    val t = new Timer(-Math.floorDiv(-(System.nanoTime() + delayNs), TickNs)) {
      def fire(): Unit = p.tryComplete(scala.util.Try(value))
    }
    Thread.currentThread() match {
      case w: Wheel => w.add(t) // a body running on a ticker: its own ring
      case _ =>
        if (t.tick - Math.floorDiv(System.nanoTime(), TickNs) <= 0) t.fire() // already due: fire inline
        else wheels(Math.floorMod(t.tick, wheels.length.toLong).toInt).offer(t)
    }
    p.future
  }
}
