package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import graft.streaming.AsyncProcessing

object AsyncProcessingSpec {
  val inFlight = new ConcurrentHashMap[String, AtomicBoolean]()
  val violations = new AtomicInteger(0)
  val timeoutCalls = new AtomicInteger(0)
  /** Concurrency gauge: how many guarded bodies are executing right now /
    * the high-water mark. The overlap assertion reads the high-water mark
    * directly instead of inferring overlap from wall time — on container
    * kernels where a thread park/unpark costs ~0.3-1 ms (measured; HISTORY.md,
    * "Retired probes") wall time is dominated by handoff scheduling noise
    * and a duration bound flaps.
    */
  val concurrent = new AtomicInteger(0)
  val maxConcurrent = new AtomicInteger(0)
  def guard(key: String)(body: => Unit): Unit = {
    val g = inFlight.computeIfAbsent(key, _ => new AtomicBoolean(false))
    if (!g.compareAndSet(false, true)) violations.incrementAndGet()
    val c = concurrent.incrementAndGet()
    maxConcurrent.accumulateAndGet(c, math.max(_, _))
    try body finally { concurrent.decrementAndGet(); g.set(false) }
  }
}

class AsyncProcessingSpec extends SparkTestBase {

  test("async keyed map overlaps I/O across keys but stays serial within a key") {
    import spark.implicits._
    AsyncProcessingSpec.violations.set(0)
    AsyncProcessingSpec.inFlight.clear()
    AsyncProcessingSpec.concurrent.set(0)
    AsyncProcessingSpec.maxConcurrent.set(0)
    val n = 2000
    val tasks = spark.range(n.toLong).map(i => (s"key-${i % 50}", i))
      .repartition(4, org.apache.spark.sql.functions.col("_1")) // O2: key -> partition
    tasks.count() // warm the session/shuffle outside the timed region

    val t0 = System.nanoTime()
    val out = AsyncProcessing.mapAsyncKeyed(tasks, maxInFlight = 64)(
      _._1,
      { case (k, i) =>
        AsyncProcessingSpec.guard(k)(Thread.sleep(2))
        (k, i * 2)
      }).collect()
    val secs = (System.nanoTime() - t0) / 1e9

    assert(out.length == n)
    assert(AsyncProcessingSpec.violations.get() == 0, "same-key tasks ran concurrently")
    // The overlap claim, asserted on the high-water concurrency gauge: with
    // 50 keys over 4 partitions, cross-key overlap must put well more than a
    // couple of sleeps in flight at once (measured: all 50 chains active).
    // Serial execution would pin the gauge at 1.
    val peak = AsyncProcessingSpec.maxConcurrent.get()
    assert(peak >= 8, s"no I/O overlap: peak concurrent sleeps $peak")
    // generous wall sanity only — NOT the overlap proof (see gauge comment):
    // serial sleep time alone is 4 s; pathological handoff behavior would
    // blow far past this
    assert(secs < 15.0, f"async map pathologically slow: $secs%.1fs for $n x 2ms tasks")
  }

  test("flatMapAsyncKeyed (true-async) keeps per-key serialism and delivers all") {
    import spark.implicits._
    import scala.concurrent.Future
    AsyncProcessingSpec.violations.set(0)
    AsyncProcessingSpec.inFlight.clear()
    val n = 1000
    val tasks = spark.range(n.toLong).map(i => (s"key-${i % 20}", i))
      .repartition(4, org.apache.spark.sql.functions.col("_1"))
    val out = AsyncProcessing.flatMapAsyncKeyed(tasks, maxInFlight = 128)(
      _._1,
      { t =>
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.parasitic
        AsyncProcessing.delayed(2L)(()).map { _ =>
          AsyncProcessingSpec.guard(t._1)(())
          t._2
        }
      }).collect()
    assert(out.length == n)
    assert(out.toSet == (0L until n.toLong).toSet)
    assert(AsyncProcessingSpec.violations.get() == 0)
  }

  test("T4: a never-completing task trips GIVE_UP at the configured timeout; batch completes") {
    import spark.implicits._
    import scala.concurrent.duration._
    import scala.concurrent.{Future, Promise}
    AsyncProcessingSpec.timeoutCalls.set(0)
    val tasks = spark.range(10).map(i => (s"k${i % 3}", i.toLong))
      .repartition(1, org.apache.spark.sql.functions.col("_1"))
    val policy = graft.streaming.CompletionPolicy[(String, Long), (Long, Boolean)](
      timeout = 300.millis,
      onTimeout = (_, _) => { AsyncProcessingSpec.timeoutCalls.incrementAndGet(); graft.streaming.TimeoutDecision.GiveUp },
      onGiveUp = t => (t._2, false)) // error-shaped row: ok = false
    val t0 = System.nanoTime()
    val out = AsyncProcessing.flatMapAsyncKeyed[(String, Long), String, (Long, Boolean)](tasks, maxInFlight = 8, policy)(
      _._1,
      t => if (t._2 == 4L) Promise[(Long, Boolean)]().future // never completes
           else Future.successful((t._2, true)))
      .collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(out.length == 10, "batch must complete despite the stuck task")
    assert(out.toSet.contains((4L, false)), "stuck task must surface as an error row")
    assert(out.count(_._2 == false) == 1, "exactly one task gives up")
    assert(AsyncProcessingSpec.timeoutCalls.get() >= 1, "timeout callback must fire")
    assert(secs < 10.0, f"give-up must be prompt, took $secs%.1fs")
    // key k1 (tasks 1,4,7): 7 chains behind stuck 4 — give-up must unblock it
    assert(out.toSet.contains((7L, true)), "successor on the stuck key must still run")
  }

  test("T4: EXTEND grants more time and the task then completes normally") {
    import spark.implicits._
    import scala.concurrent.duration._
    val tasks = spark.range(4).map(i => (s"k$i", i.toLong))
      .repartition(1, org.apache.spark.sql.functions.col("_1"))
    val policy = graft.streaming.CompletionPolicy[(String, Long), Long](
      timeout = 200.millis,
      // extend up to 5 periods (1s total) before giving up
      onTimeout = (_, n) => if (n < 5) graft.streaming.TimeoutDecision.Extend else graft.streaming.TimeoutDecision.GiveUp,
      onGiveUp = _ => -1L)
    val out = AsyncProcessing.mapAsyncKeyed[(String, Long), String, Long](tasks, maxInFlight = 4, policy)(
      _._1,
      t => { if (t._2 == 2L) Thread.sleep(500) ; t._2 }) // needs ~3 extensions
      .collect()
    assert(out.toSet == Set(0L, 1L, 2L, 3L), "extended task must complete, not give up")
  }

  test("T4: a property-bound policy times out executor-side and honors -1 = never") {
    import spark.implicits._
    import scala.concurrent.{Future, Promise}
    import graft.config.{EngineProperties, MapPropertySupplier, Properties}
    // bound at 250 ms from the registry: the stuck task gives up promptly
    val props = new Properties(Seq(new MapPropertySupplier(
      Map("decaton.deferred.complete.timeout.ms" -> 250L))))
    val dyn = props.dynamic(EngineProperties.DeferredCompleteTimeoutMs)
    val policy = graft.streaming.CompletionPolicy.fromProperty[(String, Long), (Long, Boolean)](
      dyn,
      onTimeout = (_, _) => graft.streaming.TimeoutDecision.GiveUp,
      onGiveUp = t => (t._2, false))
    val tasks = spark.range(6).map(i => (s"k${i % 2}", i.toLong))
      .repartition(1, org.apache.spark.sql.functions.col("_1"))
    val out = AsyncProcessing.flatMapAsyncKeyed[(String, Long), String, (Long, Boolean)](
      tasks, maxInFlight = 4, policy)(
      _._1,
      t => if (t._2 == 1L) Promise[(Long, Boolean)]().future
           else Future.successful((t._2, true)))
      .collect()
    assert(out.length == 6 && out.toSet.contains((1L, false)),
      "property-bound timeout must reap the stuck task through the Spark closure")
    // -1 (the reference default) = reaper disabled: nextTimeout is unbounded
    dyn.set(-1L)
    assert(!policy.nextTimeout.isFinite, "-1 must disable the timeout after hot reload")
  }

  test("a task future FAILED with its own TimeoutException propagates (no Extend busy-spin)") {
    import spark.implicits._
    import scala.concurrent.duration._
    import scala.concurrent.Future
    // The async client's internal deadline surfaces as a COMPLETED future
    // failed with TimeoutException — Await.result rethrows it verbatim, so
    // by type it looks exactly like the wall-clock await timeout. An
    // Extend-forever policy must NOT busy-spin on the instantly-rethrown
    // exception: the completed future's failure is the task's real outcome
    // and must propagate like any other failed future.
    val tasks = spark.range(3).map(i => (s"k$i", i.toLong))
      .repartition(1, org.apache.spark.sql.functions.col("_1"))
    val policy = graft.streaming.CompletionPolicy[(String, Long), Long](
      timeout = 100.millis,
      onTimeout = (_, _) => graft.streaming.TimeoutDecision.Extend, // forever
      onGiveUp = _ => -1L)
    val t0 = System.nanoTime()
    val ex = intercept[Exception] {
      AsyncProcessing.flatMapAsyncKeyed[(String, Long), String, Long](
        tasks, maxInFlight = 4, policy)(
        _._1,
        t => if (t._2 == 1L)
               Future.failed(new java.util.concurrent.TimeoutException("client deadline"))
             else Future.successful(t._2))
        .collect()
    }
    val secs = (System.nanoTime() - t0) / 1e9
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(ex).exists(_.isInstanceOf[java.util.concurrent.TimeoutException]),
      s"task's own TimeoutException must propagate, got: $ex")
    assert(secs < 30.0, f"Extend policy busy-spun on a completed future: $secs%.1fs")
  }

  test("delayed() with a throwing body fails the future instead of pending forever") {
    import scala.concurrent.duration._
    val boom = new RuntimeException("boom")
    val f = AsyncProcessing.delayed[Int](5L)(throw boom)
    scala.concurrent.Await.ready(f, 5.seconds)
    assert(f.value.exists(_.isFailure), "throwing body must FAIL the future")
    assert(f.value.get.failed.get eq boom)
    // inline-fire path (deadline already due) must behave identically
    val g = AsyncProcessing.delayed[Int](-1000L)(throw boom)
    scala.concurrent.Await.ready(g, 5.seconds)
    assert(g.value.exists(_.isFailure) && (g.value.get.failed.get eq boom))
  }

  test("delayed never completes before its delay") {
    import scala.concurrent.duration._
    // each body reads the clock when it fires; every call's start is read
    // before the call, so fired - start >= d holds for a timer never early
    val calls = 5000
    val early = new AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val batches = (0 until 4).map { w =>
        pool.submit(() => (0 until calls).map { i =>
          val d = 1L + (w + i) % 5
          val start = System.nanoTime()
          AsyncProcessing.delayed(d)(System.nanoTime()).map { fired =>
            if (fired - start < d * 1000000L) early.incrementAndGet()
          }(scala.concurrent.ExecutionContext.parasitic)
        })
      }
      val all = batches.flatMap(_.get().toSeq)
      all.foreach(f => scala.concurrent.Await.ready(f, 30.seconds))
      assert(all.forall(_.value.exists(_.isSuccess)), "every delayed call must complete")
      assert(early.get() == 0, s"${early.get()} of ${4 * calls} delayed calls completed before their delay")
    } finally pool.shutdown()
  }

  test("a body scheduled while its bucket drains still fires") {
    // delayed(0) lands on the bucket of the tick now starting, which the
    // ticker drains as it lands: a push that finds the bucket closed must
    // fire inline, or its future never completes
    val threads = 8
    val calls = 50000
    val done = new java.util.concurrent.CountDownLatch(threads * calls)
    val workers = (0 until threads).map { w =>
      val t = new Thread(() => (0 until calls).foreach { i =>
        AsyncProcessing.delayed((w + i) % 2L)(()).onComplete(_ => done.countDown())(
          scala.concurrent.ExecutionContext.parasitic)
      })
      t.start()
      t
    }
    workers.foreach(_.join())
    assert(done.await(10, java.util.concurrent.TimeUnit.SECONDS),
      s"${done.getCount} of ${threads * calls} delayed calls did not complete within 10 s")
  }

  test("an idle wheel stops waking") {
    import scala.concurrent.duration._
    val burst = (0 until 1000).map(i => AsyncProcessing.delayed(1L + i % 3)(i))
    burst.foreach(f => scala.concurrent.Await.ready(f, 10.seconds))
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    def wheelCpuNs(): Long = {
      import scala.jdk.CollectionConverters._
      Thread.getAllStackTraces.keySet.asScala.filter(_.getName == "graft-async-wheel")
        .toSeq.map(t => math.max(0L, mx.getThreadCpuTime(t.getId))).sum
    }
    Thread.sleep(50) // let the ticker see its last bucket drained
    val before = wheelCpuNs()
    Thread.sleep(1000)
    val grew = (wheelCpuNs() - before) / 1e6
    assert(grew < 5.0, f"the idle wheel's tickers used $grew%.2f ms of CPU in 1 s")
  }

  test("delayed fires within 50 µs of its deadline at the median, chained hops included") {
    import scala.concurrent.duration._
    import scala.concurrent.{Await, ExecutionContext, Future}
    implicit val ec: ExecutionContext = ExecutionContext.parasitic
    // 4 threads x 5,000 calls of 1-5 ms; each body reads the clock when it
    // fires. Each thread pauses 0.2 ms after every 50 calls, so that the
    // callers leave the tickers a core on a 4-core host. The first round
    // warms the JIT and is not held to the bound.
    def direct(): Array[Long] = {
      val calls = 5000
      val late = new Array[Long](4 * calls)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      val fs = try {
        (0 until 4).map { w =>
          pool.submit(() => (0 until calls).map { i =>
            val d = 1L + (w + i) % 5
            val start = System.nanoTime()
            val f = AsyncProcessing.delayed(d)(System.nanoTime()).map(fired => late(w * calls + i) = fired - start - d * 1000000L)
            if (i % 50 == 49) java.util.concurrent.locks.LockSupport.parkNanos(200000L)
            f
          })
        }.flatMap(_.get().toSeq)
      } finally pool.shutdown()
      fs.foreach(f => Await.result(f, 30.seconds))
      late
    }
    direct()
    val late = direct()
    // 400 chains of five hops: hops 2-5 are scheduled by the previous hop's
    // callback, which runs on the ticker that fired it
    val chains = 400
    val hops = 5
    val hopLate = new Array[Long](chains * hops)
    val onTicker = new AtomicInteger(0)
    val chained = (0 until chains).map { c =>
      val d = 1L + c % 3
      (0 until hops).foldLeft(Future.unit) { (acc, h) =>
        acc.flatMap { _ =>
          if (h > 0 && Thread.currentThread().getName == "graft-async-wheel") onTicker.incrementAndGet()
          val start = System.nanoTime()
          AsyncProcessing.delayed(d)(System.nanoTime()).map(fired => hopLate(c * hops + h) = fired - start - d * 1000000L)
        }
      }
    }
    chained.foreach(f => Await.result(f, 30.seconds))
    assert(onTicker.get == chains * (hops - 1), s"only ${onTicker.get} chained hops were scheduled on a ticker")
    def median(a: Array[Long]) = a.sorted.apply(a.length / 2) / 1000.0
    for ((name, a) <- Seq("direct calls" -> late, "chained hops" -> hopLate)) {
      assert(a.forall(_ >= 0), s"${a.count(_ < 0)} $name fired before their deadline")
      assert(median(a) < 50.0, f"$name: median lateness ${median(a)}%.1f µs")
    }
  }

  test("a deadline beyond the ring's span fires once, never early, within 1 ms") {
    import scala.concurrent.duration._
    import scala.concurrent.Await
    // near timers keep the tickers turning over every bucket while the far
    // one waits out its laps
    val near = (1 to 600).map(i => AsyncProcessing.delayed(i.toLong)(()))
    val fires = new AtomicInteger(0)
    val start = System.nanoTime()
    val far = AsyncProcessing.delayed(500L) { fires.incrementAndGet(); System.nanoTime() }
    val late = Await.result(far, 5.seconds) - start - 500000000L
    near.foreach(f => Await.ready(f, 5.seconds))
    Thread.sleep(100) // two more laps of the ring
    assert(fires.get == 1, s"the far timer fired ${fires.get} times")
    assert(late >= 0 && late < 1000000L, f"the far timer fired ${late / 1e3}%.1f µs late")
  }

  test("delayed(Long.MaxValue) is still pending after 100 ms") {
    // the deadline saturates instead of overflowing into the past
    val f = AsyncProcessing.delayed(Long.MaxValue)(())
    Thread.sleep(100)
    assert(!f.isCompleted, "a huge delay fired at once")
  }

  test("async keyed map keeps each key's input order and delivers every record") {
    import spark.implicits._
    val tasks = spark.range(500).map(i => (s"k${i % 7}", i))
      .repartition(2, org.apache.spark.sql.functions.col("_1"))
    // per-partition input order, compared to output order key by key: keys
    // leave in completion order, so only each key's own order is promised
    val inOrder = tasks.mapPartitions(it => it.map(_._2)).collect().toSeq
    val outOrder = AsyncProcessing.mapAsyncKeyed(tasks, 32)(_._1, t => t._2).collect().toSeq
    assert(outOrder.groupBy(_ % 7) == inOrder.groupBy(_ % 7), "a key's outputs left out of its input order")
    assert(outOrder.sorted == inOrder.sorted, "output multiset differs from the input")
  }

  test("a slow record holds back only its own key: finished records of other keys overtake it") {
    import spark.implicits._
    // one partition, the slow record admitted first: it must not hold the
    // 200 fast records of other keys behind it
    val tasks = spark.range(201).map(i => (if (i == 0L) "slow" else s"k${i % 16}", i))
      .repartition(1)
    val out = AsyncProcessing.flatMapAsyncKeyed(tasks, maxInFlight = 8)(
      _._1,
      t => AsyncProcessing.delayed(if (t._2 == 0L) 1000L else 2L)(t._2)).collect().toSeq
    assert(out.sorted == (0L to 200L), "every record must be delivered once")
    assert(out.last == 0L, s"the slow record must leave last, left at ${out.indexOf(0L)}")
  }

  test("T4: the timeout counts from a task's start, not from its admission") {
    import spark.implicits._
    import scala.concurrent.duration._
    AsyncProcessingSpec.timeoutCalls.set(0)
    // one key: the 200 ms successor waits 350 ms behind its predecessor, so
    // it is 550 ms past admission when it completes, but 200 ms past its start
    val tasks = spark.range(2).map(i => ("k", i.toLong)).repartition(1)
    val policy = graft.streaming.CompletionPolicy[(String, Long), Long](
      timeout = 400.millis,
      onTimeout = (_, _) => { AsyncProcessingSpec.timeoutCalls.incrementAndGet(); graft.streaming.TimeoutDecision.GiveUp },
      onGiveUp = _ => -1L)
    val out = AsyncProcessing.flatMapAsyncKeyed[(String, Long), String, Long](tasks, maxInFlight = 8, policy)(
      _._1,
      t => AsyncProcessing.delayed(if (t._2 == 0L) 350L else 200L)(t._2)).collect().toSeq
    assert(out == Seq(0L, 1L), s"no task may give up: $out")
    assert(AsyncProcessingSpec.timeoutCalls.get() == 0, "the timeout fired on a task within its time")
  }

  test("T4: one never-completing task among 2,000 gives up exactly once; every other task is delivered") {
    import spark.implicits._
    import scala.concurrent.duration._
    import scala.concurrent.Promise
    AsyncProcessingSpec.timeoutCalls.set(0)
    val n = 2000L
    val stuck = 500L
    // the stuck task's key (k4) chains its successors behind it; the other
    // keys flow past it until its successors fill the in-flight bound
    val tasks = spark.range(n).map(i => (s"k${i % 16}", i.toLong)).repartition(1)
    val policy = graft.streaming.CompletionPolicy[(String, Long), (Long, Boolean)](
      timeout = 300.millis,
      onTimeout = (_, _) => { AsyncProcessingSpec.timeoutCalls.incrementAndGet(); graft.streaming.TimeoutDecision.GiveUp },
      onGiveUp = t => (t._2, false))
    val out = AsyncProcessing.flatMapAsyncKeyed[(String, Long), String, (Long, Boolean)](tasks, maxInFlight = 8, policy)(
      _._1,
      t => if (t._2 == stuck) Promise[(Long, Boolean)]().future
           else AsyncProcessing.delayed(1L)((t._2, true))).collect().toSeq
    assert(out.map(_._1).sorted == (0L until n), "every task must be delivered once")
    assert(out.filterNot(_._2).map(_._1) == Seq(stuck), "only the stuck task may give up")
    assert(AsyncProcessingSpec.timeoutCalls.get() == 1, s"timeout fired ${AsyncProcessingSpec.timeoutCalls.get()} times")
  }
}
