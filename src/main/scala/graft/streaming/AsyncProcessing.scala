package graft.streaming

import java.util.concurrent.atomic.AtomicBoolean
import java.util.concurrent.{Executors, Semaphore, TimeoutException}

import scala.collection.mutable
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future, Promise}

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
  /** Abandon the task: its permit is released, its key unblocks, and the
    * record is mapped through `onGiveUp` (an error-shaped row — the
    * tri-state/error stream), so the batch completes instead of stalling.
    */
  case object GiveUp extends TimeoutDecision
}

/** Per-task completion policy for the async operators. `onTimeout(task, n)`
  * is called after each elapsed timeout period (n = extensions so far);
  * `onGiveUp` converts the abandoned task to the operator's output type.
  *
  * `dynamicTimeoutMs`, when set, is consulted before EVERY await round, so a
  * hot-reloaded `decaton.deferred.complete.timeout.ms` re-times in-flight
  * waits in the same JVM immediately and executor-side tasks from the next
  * trigger onward (the closure re-serializes per batch — the trigger-boundary
  * reload posture of SURVEY §2.8 P4). A negative value reproduces the
  * reference default `-1` = reaper disabled (`ProcessorProperties.java:196-198`):
  * the await is unbounded and `onTimeout` never fires.
  */
final case class CompletionPolicy[T, U](
    timeout: FiniteDuration,
    onTimeout: (T, Int) => TimeoutDecision,
    onGiveUp: T => U,
    dynamicTimeoutMs: Option[() => Long] = None) {
  /** Timeout for the next await round. */
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
    * [[graft.config.DynamicProperty]] on every await round, so a config-file
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
  * overlaps freely. Back-pressure: a bounded in-flight window (results are
  * emitted in input order, so at-least-once replay semantics per micro-batch
  * are unchanged).
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

  /** Map `f` over the dataset with up to `maxInFlight` concurrent executions
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
    * outlives `policy.timeout` triggers `policy.onTimeout` — EXTEND grants
    * another period, GIVE_UP releases the task's permit, unblocks its key
    * chain, and emits `policy.onGiveUp(task)` instead of stalling the
    * partition.
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
    * same per-key serial chaining and in-order emission, but an in-flight
    * record holds NO thread — completion is driven by the client's own
    * machinery. This is the VIRTUAL_THREAD-runtime analog
    * (`VirtualThreadSubPartitions.java:34-81`): in-flight bound = permits,
    * not threads, so tens of thousands of concurrent I/Os per executor are
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

  /** One in-flight record: its result future, the gate successors chain on,
    * and a release-once latch for its permit (give-up and late completion
    * must not double-release).
    */
  private final case class InFlight[T, U](
      task: T,
      fut: Future[U],
      gate: Promise[Unit],
      released: AtomicBoolean)

  /** Shared machinery of the async operators. Same-key records chain on a
    * GATE promise rather than on the result future directly: the gate
    * completes on task completion OR on give-up, so an abandoned task
    * releases its key for successors — mirroring the reference, where
    * reaping a leaked completion lets the per-key queue advance
    * (`OffsetStateReaper.java:50-72`).
    */
  private def asyncKeyedImpl[T, K, U](
      ds: Dataset[T],
      maxInFlight: Int,
      policy: CompletionPolicy[T, U])(
      keyFn: T => K,
      run: T => Future[U])(
      implicit encU: Encoder[U]): Dataset[U] = {
    ds.mapPartitions { it =>
      // Chain GLUE — the transformWith/andThen callbacks below (permit
      // release, gate completion, dispatching the successor) — runs
      // parasitic: inline on whatever thread completed the previous stage.
      // Routing it through the pool cost a park/unpark handoff per hop
      // (~50 µs on a typical kernel, measured 0.3-1 ms on slow-thread-op
      // container kernels — ChainHandoffProbe) for a few field writes.
      // Blocking user work still runs on the pool: mapAsyncKeyed dispatches
      // f via Future(...)(ioPool); flatMapAsyncKeyed's f is non-blocking by
      // contract (future-returning client), so inlining it is exactly the
      // "continuations run on the completing thread" posture its docs state.
      implicit val glue: ExecutionContext = ExecutionContext.parasitic
      val permits = new Semaphore(maxInFlight)
      val chains = mutable.Map.empty[K, Future[Unit]]

      var sincePrune = 0
      val records: Iterator[InFlight[T, U]] = it.map { t =>
        val k = keyFn(t)
        val prev = chains.getOrElse(k, Future.unit)
        permits.acquire() // bound total in-flight work (back-pressure, O5)
        val gate = Promise[Unit]()
        val released = new AtomicBoolean(false)
        val fut = prev.transformWith { _ =>
          run(t).andThen { case _ =>
            if (!released.getAndSet(true)) permits.release()
            gate.trySuccess(())
          }
        }
        chains(k) = gate.future
        // prune completed chains so high-cardinality partitions don't retain
        // one completed future per distinct key (consumer thread only — the
        // map is never touched from callbacks, so no race)
        sincePrune += 1
        if (sincePrune >= 1024) {
          sincePrune = 0
          chains.filterInPlace((_, cf) => !cf.isCompleted)
        }
        InFlight(t, fut, gate, released)
      }

      // sliding in-flight window: emit in input order, keep the pipe full
      new Iterator[U] {
        private val window = mutable.Queue.empty[InFlight[T, U]]
        private def fill(): Unit =
          while (window.size < maxInFlight && records.hasNext) window += records.next()
        def hasNext: Boolean = { fill(); window.nonEmpty }
        def next(): U = {
          fill()
          val rec = window.dequeue()
          var extensions = 0
          while (true) {
            try return Await.result(rec.fut, policy.nextTimeout)
            catch {
              case _: TimeoutException if rec.fut.isCompleted =>
                // Await.result rethrows a COMPLETED future's own
                // TimeoutException (an async client's internal deadline)
                // verbatim — indistinguishable by type from the await's
                // wall-clock timeout. Only an incomplete future is a
                // wall-clock timeout; a completed one re-awaits at zero to
                // return a completion that raced the deadline, or to
                // propagate the task's REAL failure (an Extend policy would
                // otherwise busy-spin on the instantly-rethrown exception,
                // and GiveUp would silently swallow it).
                return Await.result(rec.fut, Duration.Zero)
              case _: TimeoutException =>
                policy.onTimeout(rec.task, extensions) match {
                  case TimeoutDecision.Extend =>
                    extensions += 1
                  case TimeoutDecision.GiveUp =>
                    // abandon: free the permit exactly once (a late completion
                    // finds `released` already set), unblock the key chain,
                    // surface the record as an error-shaped row
                    if (!rec.released.getAndSet(true)) permits.release()
                    rec.gate.trySuccess(())
                    return policy.onGiveUp(rec.task)
                }
            }
          }
          throw new IllegalStateException("unreachable")
        }
      }
    }
  }

  /** Hashed-wheel timer (1 ms tick) for simulating async I/O latency at
    * scale. ScheduledThreadPoolExecutor parks per fire (and the kernel adds
    * ~50 µs timer slack per park), capping it near 100k fires/s; the wheel
    * parks once per millisecond and fires the whole due bucket, so millions
    * of outstanding timers complete at memory speed.
    */
  private final class Wheel {
    private val buckets =
      new java.util.concurrent.ConcurrentSkipListMap[Long, java.util.concurrent.ConcurrentLinkedQueue[() => Unit]]()
    /** Last tick time; deadlines at or before this fire inline in schedule(). */
    @volatile private var wheelNow = 0L
    /** Buckets are only removed once this much past due AND drained — a
      * scheduler would have to stall longer than this between building its
      * deadline and inserting to race the removal.
      */
    private val StaleMs = 50L
    @volatile private var started = false
    private def ensureTicker(): Unit = if (!started) synchronized {
      if (!started) {
        val t = new Thread(null, () => {
          while (true) {
            val now = System.currentTimeMillis()
            wheelNow = now
            val due = buckets.headMap(now, true).entrySet().iterator()
            while (due.hasNext) {
              val e = due.next()
              val q = e.getValue
              // a throwing body must not kill the ticker (every other timer
              // on this wheel would silently never fire again)
              var f = q.poll()
              while (f != null) {
                try f() catch { case scala.util.control.NonFatal(_) => }
                f = q.poll()
              }
              if (e.getKey <= now - StaleMs && q.isEmpty) {
                due.remove()
                // final drain: catch a body added between the isEmpty check
                // and removal
                f = q.poll()
                while (f != null) {
                  try f() catch { case scala.util.control.NonFatal(_) => }
                  f = q.poll()
                }
              }
            }
            Thread.sleep(1)
          }
        }, "graft-async-wheel", 1 << 20)
        t.setDaemon(true)
        t.start()
        started = true
      }
    }
    def schedule(deadlineMillis: Long)(body: () => Unit): Unit = {
      ensureTicker()
      if (deadlineMillis <= wheelNow) body() // already due: fire inline
      else buckets.computeIfAbsent(deadlineMillis,
        _ => new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()).add(body)
    }
  }

  /** Independent wheel shards: one ticker thread fires ~250k bodies/s
    * (promise completion + next-hop scheduling run inline on the ticker);
    * sharding multiplies fire capacity for high simulated-I/O concurrency.
    */
  private lazy val wheels: Array[Wheel] = Array.fill(4)(new Wheel)

  /** A future that completes ~`delayMillis` later (±1 ms tick) without
    * holding a thread.
    */
  def delayed[U](delayMillis: Long)(value: => U): Future[U] = {
    val p = scala.concurrent.Promise[U]()
    val w = wheels(java.util.concurrent.ThreadLocalRandom.current().nextInt(wheels.length))
    // Try(value): a throwing body must FAIL the future — trySuccess would
    // evaluate the by-name value inside the wheel ticker, whose NonFatal
    // guard discards the exception and leaves the promise pending forever
    w.schedule(System.currentTimeMillis() + delayMillis)(() =>
      p.tryComplete(scala.util.Try(value)))
    p.future
  }
}
