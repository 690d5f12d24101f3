package graft

import graft.metrics.QueryProfile

/** Benchmark entry: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line (driver contract). Each query is forced through the
  * noop datasource so the whole plan materializes (a bare count() would let
  * Catalyst prune aggregations away).
  *
  * Warm-up methodology: profiling showed ~half of each query's first run is
  * one-time plan compilation — analysis + Janino codegen (e.g. pq03: 5.1 s
  * cold vs 2.2 s warm at sf0.1). That cost is per-PLAN, not per-data: an
  * untimed pass over every query at sf0.001 compiles the same generated
  * classes into the codegen cache for pennies, so the timed pass measures
  * steady-state execution — the number that scales with data — rather than
  * re-measuring the JIT tax 49 times.
  */
/** Executor-visible latency recorder for the stream probe (static so local-
  * mode closures all hit the same instance). Latency here = task submit →
  * chain complete, the analog of the reference's delivery latency measurand
  * (`benchmark/.../BenchmarkResult.java:32-100`).
  */
object BenchMetrics {
  import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray, LongAdder}
  val latSum = new LongAdder
  val latN = new LongAdder
  val latMax = new AtomicLong(0L)
  // Fixed-width linear histogram for percentiles: 0.1 ms buckets over
  // [0, 500 ms), one overflow bucket. 5001 longs = 40 KB, lock-free
  // increments — the bounded-memory analog of the reference's per-task
  // latency list (`benchmark/.../BenchmarkResult.java:32-100`), sized so the
  // probe's ~20 ms typical / ~500 ms worst-case latencies land in-range.
  private val BucketNanos = 100000L // 0.1 ms
  private val Buckets = 5001
  private val hist = new AtomicLongArray(Buckets)
  def record(nanos: Long): Unit = {
    latSum.add(nanos); latN.increment()
    latMax.accumulateAndGet(nanos, math.max(_, _))
    val b = (nanos / BucketNanos).toInt
    hist.incrementAndGet(math.min(b, Buckets - 1))
  }
  def reset(): Unit = {
    latSum.reset(); latN.reset(); latMax.set(0L)
    var i = 0; while (i < Buckets) { hist.set(i, 0L); i += 1 }
  }

  /** Latency at quantile q (0..1), in ms, from the histogram. Overflow
    * bucket (≥500 ms) reports the observed max. Bucket midpoint keeps the
    * error ≤0.05 ms — below scheduling jitter.
    */
  def percentileMs(q: Double): Double = {
    val n = latN.sum()
    if (n == 0) return 0.0
    val target = math.max(1L, math.ceil(q * n).toLong)
    var cum = 0L; var i = 0
    while (i < Buckets) {
      cum += hist.get(i)
      if (cum >= target) {
        return if (i == Buckets - 1) latMax.get() / 1e6
        else (i + 0.5) * BucketNanos / 1e6
      }
      i += 1
    }
    latMax.get() / 1e6
  }

  /** Cumulative JIT compilation wall ms across compiler threads (0 when
    * unsupported). A rep whose delta spikes ran concurrent tier-up /
    * recompilation: bimodal reps can follow this counter rather than GC or
    * box noise (pq99's did, `tools/pq99_probe_r20.json`).
    */
  def jitMs(): Long = {
    val b = java.lang.management.ManagementFactory.getCompilationMXBean
    if (b != null && b.isCompilationTimeMonitoringSupported) b.getTotalCompilationTime else 0L
  }

  def threadCount(): Int =
    java.lang.management.ManagementFactory.getThreadMXBean.getThreadCount

  /** Per-thread CPU nanos for currently-live threads. Callers diff two
    * snapshots over COMMON thread ids — a thread that accrued CPU before the
    * window and died inside it must not subtract its whole history from the
    * delta (a plain sum-diff can go deeply negative that way).
    */
  def cpuSnapshot(): Map[Long, Long] = {
    val tm = java.lang.management.ManagementFactory.getThreadMXBean
    if (!tm.isThreadCpuTimeSupported) Map.empty
    else tm.getAllThreadIds.flatMap { id =>
      val t = tm.getThreadCpuTime(id)
      if (t >= 0) Some(id -> t) else None
    }.toMap
  }

  def cpuDeltaNanos(before: Map[Long, Long], after: Map[Long, Long]): Long =
    after.iterator.map { case (id, t1) =>
      before.get(id) match {
        case Some(t0) => math.max(0L, t1 - t0)
        case None     => t1 // born inside the window: count from zero
      }
    }.sum
}

object Bench {

  /** Host/cgroup counters that separate "slow box" from "slow code": without
    * them a degraded window can be pinned to the container only by a
    * same-day A/B, because nothing RECORDS the box state. These are
    * monotonic totals; reps log deltas, so the committed artifact alone
    * shows whether a slow rep ran under hypervisor steal (/proc/stat field
    * 8, USER_HZ ticks across all cpus) or cgroup CPU throttling (v2
    * `cpu.stat` throttled_usec, or v1 `cpu/cpu.stat` throttled_time ns).
    * Any missing/unreadable file reads as 0 — absence of the counter must
    * not fail a bench.
    */
  final case class BoxStat(
      stealTicks: Long, totalTicks: Long, throttledUsec: Long, nrThrottled: Long) {
    def minus(b: BoxStat): BoxStat = BoxStat(
      stealTicks - b.stealTicks, totalTicks - b.totalTicks,
      throttledUsec - b.throttledUsec, nrThrottled - b.nrThrottled)
  }

  def boxStat(): BoxStat = {
    def readFile(p: String): Option[String] =
      try Some(new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
        java.nio.charset.StandardCharsets.UTF_8))
      catch { case _: Throwable => None }
    def longOr0(s: String): Long = try s.toLong catch { case _: Throwable => 0L }
    val (steal, total) =
      readFile("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu "))) match {
        case Some(line) =>
          val f = line.trim.split("\\s+").drop(1).map(longOr0)
          (if (f.length > 7) f(7) else 0L, f.sum)
        case None => (0L, 0L)
      }
    def kv(body: String): Map[String, Long] =
      body.linesIterator.map(_.trim.split("\\s+")).collect {
        case Array(k, v) => k -> longOr0(v)
      }.toMap
    val v2 = readFile("/sys/fs/cgroup/cpu.stat").map(kv)
    val v1 = readFile("/sys/fs/cgroup/cpu/cpu.stat").map(kv)
    BoxStat(
      stealTicks = steal,
      totalTicks = total,
      throttledUsec = v2.flatMap(_.get("throttled_usec"))
        .orElse(v1.flatMap(_.get("throttled_time")).map(_ / 1000L)).getOrElse(0L),
      nrThrottled = v2.flatMap(_.get("nr_throttled"))
        .orElse(v1.flatMap(_.get("nr_throttled"))).getOrElse(0L))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()

    // JVM/session warm-up outside the timed region: exercise codegen and the
    // parquet read paths (incl. the events nanos conversion) once
    spark.range(1000000L).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    // resolve every table once so file-listing/footer reads land in the
    // Tables cache before any timed query
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
        "region", "documents", "embeddings")
      .foreach(t => Tables.table(spark, sfDir, t).write.format("noop").mode("overwrite").save())
    Tables.events(spark, sfDir).write.format("noop").mode("overwrite").save()

    // untimed codegen warm-up: run the full query set at a smaller sf —
    // close enough in stats that join strategies (and so the generated
    // classes) match the timed plans, small enough to cost little
    val warmDir = {
      val parent = new java.io.File(sfDir).getParentFile
      val candidates = Seq("sf0.01", "sf0.001").map(new java.io.File(parent, _))
        .filter(w => w.isDirectory && w.getPath != sfDir)
      candidates.headOption.map(_.getPath).getOrElse(sfDir)
    }
    if (warmDir != sfDir) SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[bench] warmup $name failed: $e") }
    }
    // one untimed pass at the TARGET sf: the first run of each plan at this
    // scale pays costs the steady-state number shouldn't (scan statistics,
    // remaining JIT tiers at real row counts). The old back-to-back-reps
    // scheme amortized this into reps 2-3 implicitly; with interleaved
    // passes (below) it must be paid explicitly up front or pass 1 is
    // systematically the slowest and the median drifts with pass count.
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[bench] sf warmup $name failed: $e") }
    }

    // Median-of-3 per query: on shared container kernels a single rep
    // occasionally absorbs a multi-second scheduler stall — a variance
    // probe (HISTORY.md, "Retired probes") measured one query's warmed reps
    // at 2.8 s to 27.2 s in one JVM — and a median absorbs one outlier
    // where a single shot becomes it. The 3 reps run as 3 INTERLEAVED
    // passes over the whole query set: back-to-back reps let one
    // multi-minute container stall own all 3 reps of several consecutive
    // queries, while with minutes between a query's reps a stall can poison
    // at most one rep per query and the median stays clean. The raw reps
    // and each rep's wall-clock start are emitted so any stall is
    // diagnosable from the committed JSON alone. Any rep that throws marks
    // the query failed: a silently-recorded timing for a query that died
    // reads as a measurement.
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    val queryNames = SparkEntry.queries.keys.toSeq.sorted
    // Stateful/sketch-heavy rows whose first timed rep can pay a multi-second
    // one-time warmup (agg-buffer/JIT init that the distant untimed pass no
    // longer covers once ~150 other queries ran in between), so the median
    // of their reps can measure a cold start, not the plan. These rows get
    // an untimed run IMMEDIATELY before each timed rep, so every rep
    // measures warm steady state and a cold init can never masquerade as a
    // regression (the per-rep raw log still shows any real movement).
    val preWarmQueries = Set("dq24_windowed_distinct_sketch")
    // rep value None = the rep THREW: its elapsed time measures a crash, not
    // a timing, and recording it would contaminate the median with a number
    // that looks like a measurement (the failed_queries flag alone doesn't
    // stop a reader of queries{} from trusting the value)
    val repLog = scala.collection.mutable.Map.empty[String, Vector[(Double, Option[Double])]]
    // per-rep JVM fingerprint (GC ms, JIT compilation ms deltas): a slow rep
    // with a flat fingerprint is box noise; a slow rep whose JIT delta
    // spikes is tier-up churn; a GC spike is heap pressure. Recorded for
    // every rep so a bimodal query is attributable from the committed
    // artifact alone.
    val repJvm = scala.collection.mutable.Map.empty[String, Vector[(Long, Long)]]
    // box-state deltas per interleaved pass: a pass whose steal/throttle
    // delta spikes explains its slow reps from the artifact alone
    val queryRoundBox = scala.collection.mutable.ArrayBuffer.empty[BoxStat]
    for (round <- 1 to 3; name <- queryNames) {
      if (name == queryNames.head) queryRoundBox += boxStat()
      val fn = SparkEntry.queries(name)
      if (preWarmQueries(name))
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () } // the timed rep reports the failure
      val wallStart = System.currentTimeMillis() / 1e3
      val (_, gcMs0) = QueryProfile.gcSnapshot()
      val jit0 = BenchMetrics.jitMs()
      val t0 = System.nanoTime()
      val dur =
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name failed: $e")
          None
        }
      val (_, gcMs1) = QueryProfile.gcSnapshot()
      repLog(name) = repLog.getOrElse(name, Vector.empty) :+ ((wallStart, dur))
      repJvm(name) = repJvm.getOrElse(name, Vector.empty) :+
        ((gcMs1 - gcMs0, BenchMetrics.jitMs() - jit0))
    }
    queryRoundBox += boxStat()
    // consecutive-snapshot deltas: one BoxStat per interleaved pass
    val queryRoundBoxDeltas = queryRoundBox.toSeq.sliding(2).collect {
      case Seq(a, b) => b.minus(a)
    }.toSeq
    // median over the SUCCESSFUL reps only (lower-middle when 2 survive);
    // a query with no successful rep reports null and is in failed_queries
    def median(reps: Seq[Option[Double]]): Option[Double] = {
      val ok = reps.flatten.sorted
      if (ok.isEmpty) None else Some(ok((ok.size - 1) / 2))
    }
    val results = queryNames.map(n => n -> median(repLog(n).map(_._2)))
    // warm-min beside the median (full record only): the floor a plan can
    // hit on this box — lets a reader separate plan regressions (min moved)
    // from container noise (median moved, min flat) without re-running
    def minRep(reps: Seq[Option[Double]]): Option[Double] = {
      val ok = reps.flatten
      if (ok.isEmpty) None else Some(ok.min)
    }
    val resultsMin = queryNames.map(n => n -> minRep(repLog(n).map(_._2)))

    // Cold-truth medians for the persist-heavy flagships: their interleaved
    // warm reps share the MEMORY_AND_DISK stage materialization, so the warm
    // medians above reflect a warm stage cache (~5-7× faster than a cold
    // single run). Each cold rep starts from a clean slate — pipeline stage
    // caches released, catalog cache cleared — and is reported BESIDE the
    // warm number: warm is the steady-state of a long-lived curation session
    // (the persist is the right plan), cold is the first-run truth.
    val coldQueries = Seq("pq60_training_mix", "pq64_incremental_mix", "pq74_scrub_mix")
      .filter(SparkEntry.queries.contains)
    val coldLog = coldQueries.map { name =>
      val reps = (1 to 3).map { _ =>
        graft.pipeline.Curation.releaseStageCaches(blocking = true)
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] cold $name failed: $e")
          None // time-to-failure is not a timing (same rule as the warm reps)
        }
      }.toVector
      name -> reps
    }
    // leave no bench-owned cache behind for the stream/CMS probes
    graft.pipeline.Curation.releaseStageCaches(blocking = true)
    spark.catalog.clearCache()
    // Streaming task-throughput probe vs the reference baseline (~23k
    // I/O-bound tasks/s/instance at 5×4 ms simulated I/O, docs/runtime.adoc:64):
    // same workload shape — five sequential 4 ms async I/Os per task — with
    // per-key-serial async multiplexing (graft.streaming.AsyncProcessing,
    // virtual-thread-runtime analog: no thread held while I/O is in flight).
    // untimed stream warm-up: spin up the ioPool threads, wheel tickers and
    // the mapPartitions codegen before the timed probe (JIT/thread-spawn
    // noise was ±30% run-to-run without it)
    locally {
      import spark.implicits._
      import scala.concurrent.Future
      import graft.streaming.AsyncProcessing.delayed
      graft.streaming.AsyncProcessing.flatMapAsyncKeyed(
        spark.range(5000L).map(i => (s"key-${i % 1000}", i))
          .repartition(32, org.apache.spark.sql.functions.col("_1")),
        maxInFlight = 512)(
        _._1,
        { t =>
          implicit val ec: scala.concurrent.ExecutionContext =
            scala.concurrent.ExecutionContext.parasitic
          delayed(4L)(t._2)
        }).count()
    }

    // One timed rep of the with-I/O probe; all stream_* metrics describe
    // its window. Run 3 and report the median by throughput (plus the raw
    // reps): on shared container kernels a single ~1.5 s window swings with
    // OS thread-wake scheduling — a latency probe (HISTORY.md, "Retired
    // probes") measured same-JVM reps at 26.6k→65.5k t/s with max latency
    // 537→40 ms before this change — exactly the methodology the no-I/O
    // floor already uses.
    val streamTasks = 50000L
    final case class StreamRep(
        tps: Double, latAvgMs: Double, latMaxMs: Double,
        latP50Ms: Double, latP90Ms: Double, latP99Ms: Double, latP999Ms: Double,
        gcCount: Long, gcTimeMs: Long, allocMb: Long, cpuMs: Long, threads: Int)
    def streamRep(): StreamRep = {
      BenchMetrics.reset()
      val (gcCount0, gcTime0) = QueryProfile.gcSnapshot()
      val alloc0 = QueryProfile.allocatedBytes()
      val cpu0 = BenchMetrics.cpuSnapshot()
      val st0 = System.nanoTime()
      locally {
        import spark.implicits._
        import scala.concurrent.Future
        import graft.streaming.AsyncProcessing.delayed
        val n = graft.streaming.AsyncProcessing.flatMapAsyncKeyed(
          spark.range(streamTasks).map(i => (s"key-${i % 10000}", i))
            .repartition(32, org.apache.spark.sql.functions.col("_1")),
          maxInFlight = 512)(
          _._1,
          { t =>
            // EC resolved inside the executor-side closure (not captured):
            // continuations are trivial, run them on the completing thread
            implicit val ec: scala.concurrent.ExecutionContext =
              scala.concurrent.ExecutionContext.parasitic
            val t0 = System.nanoTime()
            (1 to 5).foldLeft(Future.successful(t._2)) { (acc, _) =>
              acc.flatMap(v => delayed(4L)(v))
            }.map { v => BenchMetrics.record(System.nanoTime() - t0); v }
          }).count()
        require(n == streamTasks)
      }
      val streamSecs = (System.nanoTime() - st0) / 1e9
      val (gcCount1, gcTime1) = QueryProfile.gcSnapshot()
      StreamRep(
        tps = streamTasks / streamSecs,
        latAvgMs = if (BenchMetrics.latN.sum() == 0) 0.0
          else BenchMetrics.latSum.sum() / 1e6 / BenchMetrics.latN.sum(),
        latMaxMs = BenchMetrics.latMax.get() / 1e6,
        latP50Ms = BenchMetrics.percentileMs(0.50),
        latP90Ms = BenchMetrics.percentileMs(0.90),
        latP99Ms = BenchMetrics.percentileMs(0.99),
        latP999Ms = BenchMetrics.percentileMs(0.999),
        gcCount = gcCount1 - gcCount0, gcTimeMs = gcTime1 - gcTime0,
        allocMb = (QueryProfile.allocatedBytes() - alloc0) / (1024 * 1024),
        cpuMs = BenchMetrics.cpuDeltaNanos(cpu0, BenchMetrics.cpuSnapshot()) / 1000000,
        // thread count captured at rep end — describes the probe window, not
        // post-benchmark steady state
        threads = BenchMetrics.threadCount())
    }
    val streamRepBox = scala.collection.mutable.ArrayBuffer.empty[BoxStat]
    val streamReps = Seq.fill(3) {
      val b0 = boxStat()
      val r = streamRep()
      streamRepBox += boxStat().minus(b0)
      r
    }
    val medianRep = streamReps.sortBy(_.tps).apply(1)
    val tps = medianRep.tps
    val latAvgMs = medianRep.latAvgMs
    val latMaxMs = medianRep.latMaxMs
    val (gcCountD, gcTimeD) = (medianRep.gcCount, medianRep.gcTimeMs)
    val allocMb = medianRep.allocMb
    val cpuMs = medianRep.cpuMs
    val streamThreads = medianRep.threads

    // Engine-overhead floor: same pipeline, no simulated I/O. The reference's
    // claim is latency-INDEPENDENT throughput (docs/runtime.adoc:64); the gap
    // between this number and tps above is the simulated-I/O timer, not the
    // engine. The whole probe is a ~1 s window dominated by per-job fixed
    // costs, so a single sample swings ±2x run to run — warm it up untimed,
    // then report the median of 3 reps plus the reps themselves.
    def noIoRep(): Double = {
      import spark.implicits._
      val t0 = System.nanoTime()
      val n = graft.streaming.AsyncProcessing.mapAsyncKeyed(
        spark.range(streamTasks).map(i => (s"key-${i % 10000}", i))
          .repartition(32, org.apache.spark.sql.functions.col("_1")),
        maxInFlight = 64)(_._1, _._2).count()
      require(n == streamTasks)
      streamTasks / ((System.nanoTime() - t0) / 1e9)
    }
    noIoRep() // untimed warm-up (JIT for this pipeline shape)
    val noIoReps = Seq.fill(3)(noIoRep()).sorted
    val tpsNoIo = noIoReps(1)

    // Production-size CMS probe (the reference's 65536x12 quota budget,
    // ~6 MB/sketch): records that the salted two-level merge keeps reducer
    // fan-in bounded at full width — the partial per (window, salt) is the
    // only thing that crosses the wire, and no reducer merges more than
    // (input partitions / salts) of them.
    def cmsRep(): Double = {
      val cmsT0 = System.nanoTime()
      graft.operators.PerKeyQuota.windowedSketchSalted(
          Tables.events(spark, sfDir), org.apache.spark.sql.functions.col("user_id"),
          org.apache.spark.sql.functions.col("ts"), "1 day",
          salts = 4, width = 65536, depth = 12)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - cmsT0) / 1e9
    }
    cmsRep() // untimed warm-up: the full-width plan is not in the query-set warm pass
    // The probe allocates ~6 MB/partial × 32 partitions per rep; after 74
    // queries the heap can be left in a state where EVERY rep runs 10×
    // slower (measured medians 2.7 s vs 34.7 s across identical JVMs), so a
    // GC ahead of each rep levels the field and the raw reps are emitted
    // for interpretability.
    val cmsReps = Seq.fill(3) { System.gc(); cmsRep() }.sorted
    val cmsFullSec = cmsReps(1)

    // http_text decode-chain throughput probe: the gzip+chunked+
    // charset-sniff arm — the full chain — at a fixed data shape, so a
    // decode regression (a per-row allocation slip, a lost Inflater pool)
    // fails the BenchFloorSpec MB/s floor LOUDLY instead of surfacing as
    // pq99 bimodality. Block built once driver-side; the timed region is
    // pure decode (the retired http_text probe's methodology, HISTORY.md
    // "Retired probes", embedded so every driver bench records it).
    val httpMbps = {
      val bodyBytes = 20000
      val nDocs = 20000
      val text = ("The quick brown fox jumps over the lazy dog. " * (bodyBytes / 45 + 1))
        .take(bodyBytes)
      val gz = {
        val out = new java.io.ByteArrayOutputStream()
        val s = new java.util.zip.GZIPOutputStream(out); s.write(text.getBytes("UTF-8")); s.close()
        out.toByteArray
      }
      val chunked = {
        val out = new java.io.ByteArrayOutputStream()
        gz.grouped(1024).foreach { g =>
          out.write(s"${Integer.toHexString(g.length)}\r\n".getBytes)
          out.write(g); out.write("\r\n".getBytes)
        }
        out.write("0\r\n\r\n".getBytes); out.toByteArray
      }
      val block = ("HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-8\r\n" +
        "Content-Encoding: gzip\r\nTransfer-Encoding: chunked\r\n\r\n")
        .getBytes("ISO-8859-1") ++ chunked
      val df = spark.range(nDocs)
        .select(org.apache.spark.sql.functions.lit(block).as("block")).cache()
      df.count()
      def rep(): Double = {
        val t0 = System.nanoTime()
        val got = df.select(graft.functions.http_text(
            org.apache.spark.sql.functions.col("block")).as("t"))
          .agg(org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.length(
              org.apache.spark.sql.functions.col("t")))).collect()
        require(got.head.getLong(0) == nDocs.toLong * text.length, "http probe decoded short")
        nDocs.toDouble * bodyBytes / 1048576.0 / ((System.nanoTime() - t0) / 1e9)
      }
      rep() // warm
      val reps = Seq.fill(3)(rep()).sorted
      df.unpersist()
      reps(1)
    }

    def jsonNum(v: Option[Double]): String = v.map(_.toString).getOrElse("null")
    // Locale-independent fixed-decimal formatting: f"" uses the JVM default
    // locale, which under a comma-decimal locale (de_DE) emits invalid JSON.
    def num(v: Double, dp: Int): String =
      String.format(java.util.Locale.ROOT, "%." + dp + "f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + jsonNum(v) }
      .mkString("{", ",", "}")
    val qMins = resultsMin.map { case (k, v) => "\"" + k + "\":" + jsonNum(v) }
      .mkString("{", ",", "}")
    val qReps = queryNames.map { n =>
      "\"" + n + "\":" + repLog(n).map(r => jsonNum(r._2)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val qStarts = queryNames.map { n =>
      "\"" + n + "\":" + repLog(n).map(r => num(r._1, 3)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val qGcMs = queryNames.map { n =>
      "\"" + n + "\":" + repJvm(n).map(_._1).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val qJitMs = queryNames.map { n =>
      "\"" + n + "\":" + repJvm(n).map(_._2).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = results.flatMap(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val qCold = coldLog.map { case (n, reps) =>
      "\"" + n + "\":" + jsonNum(median(reps))
    }.mkString("{", ",", "}")
    val qColdReps = coldLog.map { case (n, reps) =>
      "\"" + n + "\":" + reps.map(jsonNum).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // pre-warmed rows time WARM STEADY STATE, not cold-median — emit the set
    // so the artifact itself records which rows are methodology-shifted and
    // round-over-round comparisons of those rows are flagged, not silent
    val preWarmJson = preWarmQueries.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val benchJson = s"""{"metric":"total","value":$total,"unit":"sec","query_timing":"median-of-3-interleaved","pre_warmed_queries":$preWarmJson,"queries":$qs,""" +
      s""""queries_min":$qMins,""" +
      s""""query_reps":$qReps,"query_rep_starts_epoch_sec":$qStarts,""" +
      s""""query_rep_gc_ms":$qGcMs,"query_rep_jit_ms":$qJitMs,""" +
      s""""queries_cold":$qCold,"query_cold_reps":$qColdReps,""" +
      s""""failed_queries":$failedJson,""" +
      s""""stream_tasks_per_sec":$tps,"stream_tasks_per_sec_no_io":$tpsNoIo,""" +
      s""""stream_reps_tps":${streamReps.map(_.tps).mkString("[", ",", "]")},""" +
      s""""stream_reps_lat_avg_ms":${streamReps.map(_.latAvgMs).mkString("[", ",", "]")},""" +
      s""""stream_reps_lat_max_ms":${streamReps.map(_.latMaxMs).mkString("[", ",", "]")},""" +
      s""""stream_reps_lat_p50_ms":${streamReps.map(_.latP50Ms).mkString("[", ",", "]")},""" +
      s""""stream_reps_lat_p99_ms":${streamReps.map(_.latP99Ms).mkString("[", ",", "]")},""" +
      s""""stream_latency_p50_ms":${medianRep.latP50Ms},""" +
      s""""stream_latency_p90_ms":${medianRep.latP90Ms},""" +
      s""""stream_latency_p99_ms":${medianRep.latP99Ms},""" +
      s""""stream_latency_p999_ms":${medianRep.latP999Ms},""" +
      s""""stream_no_io_reps":${noIoReps.mkString("[", ",", "]")},""" +
      s""""box_query_rounds_steal_ticks":${queryRoundBoxDeltas.map(_.stealTicks).mkString("[", ",", "]")},""" +
      s""""box_query_rounds_total_ticks":${queryRoundBoxDeltas.map(_.totalTicks).mkString("[", ",", "]")},""" +
      s""""box_query_rounds_throttled_usec":${queryRoundBoxDeltas.map(_.throttledUsec).mkString("[", ",", "]")},""" +
      s""""box_stream_reps_steal_ticks":${streamRepBox.map(_.stealTicks).mkString("[", ",", "]")},""" +
      s""""box_stream_reps_total_ticks":${streamRepBox.map(_.totalTicks).mkString("[", ",", "]")},""" +
      s""""box_stream_reps_throttled_usec":${streamRepBox.map(_.throttledUsec).mkString("[", ",", "]")},""" +
      s""""box_stream_reps_nr_throttled":${streamRepBox.map(_.nrThrottled).mkString("[", ",", "]")},""" +
      s""""cms_full_sketch_sec":$cmsFullSec,""" +
      s""""cms_reps":${cmsReps.mkString("[", ",", "]")},""" +
      s""""http_text_mbps":${num(httpMbps, 1)},""" +
      s""""stream_task_count":$streamTasks,""" +
      s""""stream_latency_avg_ms":$latAvgMs,"stream_latency_max_ms":$latMaxMs,""" +
      s""""stream_gc_count":$gcCountD,"stream_gc_time_ms":$gcTimeD,""" +
      s""""stream_allocated_mb":$allocMb,""" +
      s""""stream_cpu_ms":$cpuMs,"threads":$streamThreads,"sf":"$sfDir"}"""
    println(benchJson)
    // Also write the line to a committed, prefix-free file: on stdout sbt
    // prepends "[info] " and the driver's BENCH parser has recorded
    // parsed:null for it every round — the file is the parseable record.
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_SELF.json"), benchJson + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] BENCH_SELF.json write failed: $e") }
    // Regenerate the committed plan record from the same registered set this
    // bench just ran, so PLANS.md cannot drift from the shapes PlanAuditSpec
    // enforces. Sibling session: the audit needs AQE off for codegen ids,
    // the bench session keeps it on.
    try {
      val auditSession = spark.newSession()
      auditSession.conf.set("spark.sql.adaptive.enabled", "false")
      Explain.writePlansMd(auditSession, sfDir, "PLANS.md",
        s"graft.Bench ${java.time.Instant.now()} @ $sfDir")
    } catch { case e: Throwable => System.err.println(s"[bench] PLANS.md regen failed: $e") }
    // Two JSON lines close the run, each starting with '{' (build.sbt relays
    // forked output unprefixed through StdoutOutput). First the CONTRACT
    // line ({"metric":"per_query","value","unit","queries",...,"sf"}) with a
    // compact 3-decimal per-query seconds map, for a full-stdout parser.
    // Then, last, a FLAT compact summary for a parser that reads only a
    // ~2,000-char tail window with a lazy \{[^{}]*\} extractor: no nested
    // objects, no arrays, every number formatted under Locale.ROOT (an f""
    // interpolator uses the JVM default locale — under de_DE the decimal
    // comma makes the line invalid JSON), mirrored to stderr. The two lines
    // carry different metric tags, so a parser keyed on "metric":"total"
    // reads only the flat summary. The full per-query record lives in
    // BENCH_SELF.json above.
    val qsCompact = results.map { case (k, v) =>
      "\"" + k + "\":" + v.map(num(_, 3)).getOrElse("null")
    }.mkString("{", ",", "}")
    val perQueryLine =
      s"""{"metric":"per_query","value":${num(total, 3)},"unit":"sec",""" +
        s""""n_queries":${results.size},"n_failed":${failed.size},""" +
        s""""queries":$qsCompact,""" +
        s""""stream_tasks_per_sec":${num(tps, 1)},""" +
        s""""sf":"$sfDir"}"""
    println(perQueryLine)
    val flatLine =
      s"""{"metric":"total","value":${num(total, 3)},"unit":"sec",""" +
        s""""n_queries":${results.size},"n_failed":${failed.size},""" +
        s""""stream_tasks_per_sec":${num(tps, 1)},""" +
        s""""stream_tasks_per_sec_no_io":${num(tpsNoIo, 1)},""" +
        s""""stream_latency_p50_ms":${num(medianRep.latP50Ms, 2)},""" +
        s""""stream_latency_p99_ms":${num(medianRep.latP99Ms, 2)},""" +
        s""""sf":"$sfDir"}"""
    println(flatLine)
    System.err.println(flatLine)
    spark.stop()
  }
}
