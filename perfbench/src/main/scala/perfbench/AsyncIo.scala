package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLongArray, LongAdder}

import scala.concurrent.{ExecutionContext, Future}

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession

import graft.streaming.AsyncProcessing

/** `async_io` and `async_hot_keys`: the reference benchmark's task shape.
  * Each task does five sequential 4 ms async I/Os (`AsyncProcessing.delayed`)
  * through `AsyncProcessing.flatMapAsyncKeyed`, same-key tasks chained in
  * order. The two workloads differ in their [[Shape]] only.
  *
  * Closed loop: one job of `tasksPerJob` tasks at a time, back to back.
  * Keys are local to a Spark partition (the source partition picks the key
  * range), so no shuffle sits in front of the operator and every id of one
  * key is pulled in increasing order: the operator's per-key order is then
  * checkable as "ids strictly increase per key in emission order".
  */
object AsyncIo {
  /** Keys per Spark partition and tasks per job. */
  final case class Shape(keysPerPartition: Int, tasksPerJob: Long)
  /** Far more keys than [[MaxInFlight]]: tasks rarely wait on their key. */
  val ManyKeys = Shape(2500, 50000L)
  /** An eighth of [[MaxInFlight]]: each key has about eight tasks in flight,
    * one running, the rest queued behind it, so per-key chaining sets the
    * pace (at most 64 × 50 tasks/s per partition).
    */
  val HotKeys = Shape(64, 20000L)
  val MaxInFlight = 512
  val Hops = 5
  val HopMs = 4L
  /** Nominal I/O time of one task, Hops × HopMs. */
  val NominalNs: Long = Hops * HopMs * 1000000L
  /** `delayed` is documented to fire within ±1 ms of its delay (1 ms wheel
    * tick, deadline taken from the millisecond clock), so a task's five hops
    * are guaranteed at least Hops × (HopMs − 1); no delivery may be shorter.
    */
  val MinDeliveryNs: Long = Hops * (HopMs - 1) * 1000000L
  /** One task in this many carries spans in the traced window. */
  val TraceEvery = 8
  val WarmupJobs = 3

  /** Executor-side recorders; static because local-mode closures run in
    * this JVM and must reach one instance.
    */
  object Rec {
    val delivery = new SampleBuffer(8 << 20)
    val lateNs = new SampleBuffer(4 << 20)
    val count = new LongAdder
    val idSum = new LongAdder
    val badTasks = new LongAdder
    val orderViolations = new LongAdder
    val shortDeliveries = new LongAdder
    val underNominal = new LongAdder
    val inFlight = new AtomicInteger
    val inFlightPeak = new AtomicInteger
    @volatile var lastId: AtomicLongArray = new AtomicLongArray(0)

    def resetJob(keys: Int): Unit = {
      count.reset(); idSum.reset(); badTasks.reset()
      val a = new AtomicLongArray(keys)
      var i = 0
      while (i < keys) { a.set(i, -1L); i += 1 }
      lastId = a
    }
  }

  /** SplitMix64 finalizer: spreads ids over keys from the seed. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  final case class Job(tasks: Long, failed: Long, seconds: Double)

  def job(spark: SparkSession, shape: Shape, parts: Int, salt: Long, traced: Boolean, parent: Long,
      op: Long): Job = {
    import spark.implicits._
    Rec.resetJob(parts * shape.keysPerPartition)
    val keysPer = shape.keysPerPartition
    val input = spark.range(0L, shape.tasksPerJob, 1L, parts).map { id =>
      val key = TaskContext.getPartitionId() * keysPer + java.lang.Math.floorMod(mix(id ^ salt), keysPer.toLong).toInt
      (key, id.longValue, System.nanoTime())
    }
    val jobSpan = if (traced) Trace.open("streaming.async.job", parent, op) else 0L
    val t0 = System.nanoTime()
    AsyncProcessing.flatMapAsyncKeyed(input, MaxInFlight)(
      _._1,
      { (t: (Int, Long, Long)) =>
        implicit val ec: ExecutionContext = ExecutionContext.parasitic
        val sampled = traced && t._2 % TraceEvery == 0
        if (traced) Rec.inFlightPeak.accumulateAndGet(Rec.inFlight.incrementAndGet(), math.max)
        val ioStart = System.nanoTime()
        var fut = Future.successful(t._2)
        var hop = 0
        while (hop < Hops) {
          fut = fut.flatMap { v =>
            if (!sampled) AsyncProcessing.delayed(HopMs)(v)
            else {
              val s = System.nanoTime()
              AsyncProcessing.delayed(HopMs)(v).map { x =>
                Rec.lateNs.add(System.nanoTime() - s - HopMs * 1000000L); x
              }
            }
          }
          hop += 1
        }
        fut.map { v =>
          if (traced) Rec.inFlight.decrementAndGet()
          (t._1, v, t._3, ioStart, System.nanoTime())
        }
      }).map { case (key, id, pulled, ioStart, ioEnd) =>
        val now = System.nanoTime()
        val d = now - pulled
        Rec.delivery.add(d)
        Rec.count.increment()
        Rec.idSum.add(id)
        val inOrder = Rec.lastId.getAndSet(key, id) < id
        if (!inOrder) Rec.orderViolations.increment()
        if (d < MinDeliveryNs) Rec.shortDeliveries.increment()
        if (d < NominalNs) Rec.underNominal.increment()
        if (!inOrder || d < MinDeliveryNs) Rec.badTasks.increment()
        if (traced && id % TraceEvery == 0) {
          val s = Trace.add("streaming.async.task", pulled, now, jobSpan, id)
          Trace.add("streaming.async.io", ioStart, ioEnd, s, id)
        }
        id
      }.write.format("noop").mode("overwrite").save()
    val secs = (System.nanoTime() - t0) / 1e9
    Trace.close(jobSpan)
    val n = shape.tasksPerJob
    val wholeJobOk = Rec.count.sum() == n && Rec.idSum.sum() == n * (n - 1) / 2
    Job(n, if (wholeJobOk) math.min(n, Rec.badTasks.sum()) else n, secs)
  }

  /** Jobs of one kind and their delivery samples. */
  final case class Jobs(jobs: Seq[Job], deliveryMs: Array[Double]) {
    def tasks: Long = jobs.map(_.tasks).sum
    def failed: Long = jobs.map(_.failed).sum
    def throughput: Double = tasks / jobs.map(_.seconds).sum
    def p50: Double = Stats.quantile(deliveryMs, 0.50)
    def p99: Double = Stats.quantile(deliveryMs, 0.99)
  }

  /** One window's jobs; `jvm` covers the untraced ones only. */
  final case class Window(plain: Jobs, traced: Jobs, jvm: (Double, Double, Double))

  /** Jobs back to back until `seconds` have passed. With `alternate`, jobs
    * run untraced, traced, traced, untraced, ... so that the JVM's warming
    * over the window weighs on both kinds alike, and end on a whole group of four.
    */
  def window(spark: SparkSession, shape: Shape, parts: Int, seconds: Double, alternate: Boolean,
      salt0: Long): Window = {
    val plain, traced = scala.collection.mutable.ArrayBuffer.empty[Job]
    val plainMs, tracedMs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    var jvm = (0.0, 0.0, 0.0)
    val t0 = System.nanoTime()
    val root = if (alternate) Trace.open("streaming.async.window", 0L, 0L) else 0L
    while (plain.isEmpty || (alternate && (plain.size + traced.size) % 4 != 0) || (System.nanoTime() - t0) / 1e9 < seconds) {
      val i = plain.size + traced.size
      val traceJob = alternate && (i % 4 == 1 || i % 4 == 2)
      Rec.delivery.reset()
      val j0 = Jvm.snap()
      val j = job(spark, shape, parts, salt0 + i, traceJob, root, i.toLong)
      if (traceJob) traced += j
      else {
        val (gc, alloc, cpu) = Jvm.delta(j0, Jvm.snap())
        jvm = (jvm._1 + gc, jvm._2 + alloc, jvm._3 + cpu)
        plain += j
      }
      require(!Rec.delivery.overflowed, "delivery sample buffer overflowed")
      (if (traceJob) tracedMs else plainMs) += Rec.delivery.toMsArray
    }
    Trace.close(root)
    Window(Jobs(plain.toSeq, plainMs.flatten.toArray), Jobs(traced.toSeq, tracedMs.flatten.toArray), jvm)
  }

  /** Runs one workload of this shape. A traced run spends the first half of
    * `--seconds` on an async window and hands the second half to `tail`,
    * which measures the layers of a path that has no workload of its own
    * (README: left out).
    */
  def run(spark: SparkSession, args: RunArgs, ready: () => Unit, shape: Shape,
      tail: (SparkSession, RunArgs, Double) => Outcome): Outcome = {
    val parts = spark.sparkContext.defaultParallelism
    val salt = args.rng(1).nextLong()
    (0 until WarmupJobs).foreach { i =>
      job(spark, shape, parts, salt - 1 - i, traced = false, 0L, 0L)
      Main.log(s"warm-up job $i done")
    }
    Seq(Rec.orderViolations, Rec.shortDeliveries, Rec.underNominal).foreach(_.reset())
    ready()
    def notes(plain: Jobs) = Seq(
      s"jobs=${plain.jobs.size} tasks=${plain.tasks} parts=$parts maxInFlight=$MaxInFlight " +
      s"order_violations=${Rec.orderViolations.sum()} short_deliveries=${Rec.shortDeliveries.sum()} " +
      s"under_${NominalNs / 1000000}ms=${Rec.underNominal.sum()} " +
      f"min_delivery_ms=${plain.deliveryMs.min}%.3f p99_ms=${plain.p99}%.3f")
    if (!args.trace) {
      val plain = window(spark, shape, parts, args.seconds, alternate = false, salt).plain
      val e2e = Map(
        "throughput_per_s" -> (plain.throughput, "1/s"),
        "latency_p50_ms" -> (plain.p50, "ms"))
      return Outcome(plain.tasks, plain.failed, e2e, Map.empty, notes(plain))
    }

    val secs = args.seconds / 2
    Trace.enable(4 << 20)
    Rec.lateNs.reset(); Rec.inFlightPeak.set(0)
    val w = window(spark, shape, parts, secs, alternate = true, salt)
    def p50Self(name: String) = Stats.quantile(Trace.selfTimesNs(name).map(_ / 1e6), 0.5)
    val (gc, alloc, cpu) = w.jvm
    val perOp = w.plain.tasks.toDouble
    val layers = Map(
      "streaming.async.io_p50_ms" -> (p50Self("streaming.async.io"), "ms"),
      "streaming.async.wait_p50_ms" -> (p50Self("streaming.async.task"), "ms"),
      "streaming.async.in_flight_peak" -> (Rec.inFlightPeak.get().toDouble, "count"),
      "streaming.async.delivery_p99_ms" -> (w.plain.p99, "ms"),
      "streaming.timer.late_p50_ms" -> (Stats.quantile(Rec.lateNs.toMsArray, 0.5), "ms"),
      "jvm.gc_ms" -> (gc / perOp, "ms"),
      "jvm.alloc_mb" -> (alloc / perOp, "MB"),
      "jvm.cpu_ms" -> (cpu / perOp, "ms"),
      "trace.overhead_throughput_per_s" -> (w.traced.throughput - w.plain.throughput, "1/s"),
      "trace.overhead_latency_p50_ms" -> (w.traced.p50 - w.plain.p50, "ms"))
    val t = tail(spark, args, secs)
    Outcome(w.plain.tasks + w.traced.tasks + t.attempted, w.plain.failed + w.traced.failed + t.failed,
      Map.empty, layers ++ t.layers,
      notes(w.plain) ++ t.notes :+ s"traced_jobs=${w.traced.jobs.size} in_flight_cap=${parts * MaxInFlight}")
  }
}
