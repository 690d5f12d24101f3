package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.TaskMetadata
import graft.sources.{TaskSource, TaskWriter}
import graft.sources.kafkalike.BrokerLog

/** The broker path, measured for per-layer metrics in the traced run of
  * `async_io`: Decaton's at-least-once loop over the file-backed
  * `graft-kafka` broker. It is no workload of its own because its
  * end-to-end figures do not repeat within any allowed bound on a shared
  * host (perfbench/README.md). One cycle:
  *
  *  1. produce a backlog of [[Tasks]] tasks ([[Keys]] keys) with `dt_meta`
  *     headers into a fresh [[Partitions]]-partition topic through
  *     `TaskWriter.toKafkaShape` and the graft-kafka sink, each key written
  *     by one Spark task in id order (its production order);
  *  2. drain origin + retry with `TaskSource.brokerStream` at a fixed
  *     `maxOffsetsPerTrigger`. Each trigger decodes the metadata, fails a
  *     fixed tenth of the tasks on first delivery (re-produced through
  *     `TaskWriter.toRetryShape`) and writes the rest to an output topic;
  *  3. check the output topic, read straight from the broker files.
  *
  * The cycle's topics and checkpoint are deleted before the next cycle, so
  * every cycle starts from empty partitions.
  */
object BrokerCycle {
  val Tasks = 1500
  val Keys = 100
  val Partitions = 8
  /** Every cycle drains in three full triggers plus the retry tail. */
  val TriggersPerBacklog = 3
  /** Warm-up: a small cycle runs every code path cold, then a full-size
    * one; the first full-size cycle in a JVM still runs ~25% slower than
    * the next.
    */
  val WarmupSizes = Seq(400, Tasks)
  val ProbeRecords = 250

  /** One cycle's input. Tasks failing on first delivery are those with
    * ((id * a + b) mod tasks) < tasks / 10, `a` coprime to `tasks`: exactly
    * one tenth, chosen by the seed.
    */
  final case class Plan(tasks: Int, keyOf: Array[Int], a: Long, b: Long) {
    def fails(id: Long): Boolean = Math.floorMod(id * a + b, tasks.toLong) < tasks / 10
  }

  def plan(rng: java.util.SplittableRandom, tasks: Int = Tasks): Plan = {
    def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
    var a = 0L
    while (gcd(a, tasks.toLong) != 1L) a = 1L + rng.nextInt(tasks - 1)
    Plan(tasks, Array.fill(tasks)(rng.nextInt(Keys)), a, rng.nextInt(tasks).toLong)
  }

  /** retry_count (field 4) of a protobuf-encoded `dt_meta` header, decoded
    * here rather than through the engine's codec so the check is
    * independent of it.
    */
  def retryCountOf(meta: Array[Byte]): Long = {
    var p = 0
    def varint(): Long = {
      var shift = 0; var v = 0L; var b = 0
      while ({ b = meta(p); p += 1; v |= (b & 0x7FL) << shift; shift += 7; (b & 0x80) != 0 }) ()
      v
    }
    var retry = 0L
    while (p < meta.length) {
      val key = varint()
      (key & 7).toInt match {
        case 0 => val v = varint(); if ((key >>> 3) == 4) retry = v
        case 2 => val n = varint().toInt; p += n
        case 1 => p += 8
        case 5 => p += 4
      }
    }
    retry
  }

  final case class Cycle(
      seconds: Double, produceSeconds: Double, failedIds: Int,
      outputRecords: Int, retried: Int, triggers: Seq[Map[String, Double]])

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  private def span[A](traced: Boolean, name: String, parent: Long, op: Long)(body: Long => A): A =
    if (traced) Trace.span(name, parent, op)(body) else body(0L)

  def cycle(spark: SparkSession, work: Path, ix: Int, p: Plan, traced: Boolean, parent: Long): Cycle = {
    import spark.implicits._
    val root = work.resolve("broker").toString
    val origin = s"c$ix"
    val retry = s"$origin-retry"
    val out = s"$origin-out"
    Seq(origin, retry, out).foreach(t => BrokerLog.createTopic(root, t, Partitions))
    val ckpt = work.resolve(s"ckpt-$ix")
    val cycleSpan = if (traced) Trace.open("broker.cycle", parent, ix) else 0L
    val t0 = System.nanoTime()

    val produceSecs = span(traced, "sources.produce", cycleSpan, ix) { _ =>
      val s0 = System.nanoTime()
      val rows = (0 until p.tasks).map(i => (i.toLong, p.keyOf(i)))
      val now = System.currentTimeMillis()
      val tasks = rows.toDF("id", "k")
        .repartition(Partitions, col("k"))
        .sortWithinPartitions(col("id"))
      val meta = struct(
        lit(now).as("timestamp_millis"),
        lit("perfbench").as("source_application_id"),
        lit("cycle").as("source_instance_id"),
        lit(0L).as("retry_count"),
        lit(0L).as("scheduled_time_millis"))
      TaskWriter.toKafkaShape(tasks, col("k"), col("id").cast("string"), meta, origin)
        .write.format("graft-kafka").mode("append").option("root", root).save()
      (System.nanoTime() - s0) / 1e9
    }

    val failing = (pmod(col("id") * lit(p.a) + lit(p.b), lit(p.tasks.toLong)) < lit(p.tasks / 10)) &&
      col("meta.retry_count") === 0L
    val query = TaskSource.brokerStream(spark, root, origin, Some(retry),
        maxOffsetsPerTrigger = Some(p.tasks.toLong / TriggersPerBacklog))
      .writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val now = System.currentTimeMillis()
        val trig = if (traced) Trace.open("broker.trigger", cycleSpan, batchId) else 0L
        val staged = span(traced, "api.process", trig, batchId) { _ =>
          val s = batch.select(
              col("key"), col("value"),
              graft.functions.dt_meta_decode(
                element_at(map_from_entries(col("headers")), TaskMetadata.HeaderKey)).as("meta"))
            .withColumn("id", col("value").cast("string").cast("long"))
            .withColumn("fail", failing)
            .persist(StorageLevel.MEMORY_ONLY)
          s.count()
          s
        }
        span(traced, "sources.sink_write", trig, batchId) { _ =>
          TaskWriter.toRetryShape(staged.filter(col("fail")), col("key"), col("value"), col("meta"),
              origin, lit(now), lit(0L))
            .unionByName(TaskWriter.toKafkaShape(
              staged.filter(!col("fail")), col("key"), col("value"), col("meta"), out))
            .write.format("graft-kafka").mode("append").option("root", root).save()
        }
        staged.unpersist()
        Trace.close(trig)
        ()
      }.start()
    def outputDepth: Long = (0 until Partitions).map(q => BrokerLog.offsetRange(root, out, q)._2).sum
    try {
      val deadline = System.nanoTime() + 120e9.toLong
      span(traced, "broker.drain", cycleSpan, ix) { _ =>
        do query.processAllAvailable()
        while (outputDepth < p.tasks && System.nanoTime() < deadline)
      }
    } finally query.stop()
    val secs = (System.nanoTime() - t0) / 1e9
    Trace.close(cycleSpan)
    val triggers = query.recentProgress.toSeq.filter(_.numInputRows > 0).map { pr =>
      pr.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap +
        ("batchDuration" -> pr.batchDuration.toDouble)
    }

    // checks, read from the broker files
    val outRecs = (0 until Partitions).flatMap(q => BrokerLog.read(root, out, q, 0L, Long.MaxValue).map(_._2))
    val bad = scala.collection.mutable.Set.empty[Long]
    val seen = scala.collection.mutable.Set.empty[Long]
    val lastFirst = new Array[Long](Keys).map(_ => -1L)
    var retried = 0
    outRecs.foreach { r =>
      val id = new String(r.value, "UTF-8").toLong
      val rc = r.headers.collectFirst { case (TaskMetadata.HeaderKey, v) => retryCountOf(v) }.getOrElse(-1L)
      val expected = if (p.fails(id)) 1L else 0L
      if (rc == 1L) retried += 1
      if (id < 0 || id >= p.tasks || rc != expected) bad += id
      else if (seen.add(id) && rc == 0L) {
        // first deliveries of one key must follow production (id) order
        val k = p.keyOf(id.toInt)
        if (lastFirst(k) >= id) bad += id
        lastFirst(k) = id
      }
    }
    (0L until p.tasks).foreach(id => if (!seen(id)) bad += id)
    // per-partition order above is the order records were written, which
    // is trigger order; a key lives in one output partition
    deleteTree(ckpt)
    Cycle(secs, produceSecs, bad.size, outRecs.size, retried, triggers)
  }

  /** Produces `n` small records one by one into partition 0 of `topic`,
    * each with the previous offset as hint; returns ms per 1,000 records.
    */
  def produceMsPer1k(root: String, topic: String, n: Int): Double = {
    val rec = BrokerLog.Record("k".getBytes("UTF-8"), "v".getBytes("UTF-8"), 0L, Nil)
    val t0 = System.nanoTime()
    var hint = -1L
    (0 until n).foreach { _ => hint = BrokerLog.produce(root, topic, 0, rec, hint) + 1 }
    (System.nanoTime() - t0) / 1e6 * 1000 / n
  }

  /** Benchmark-side probes of the broker log: produce into a fresh
    * partition and into one already holding a cycle's backlog (one backlog
    * is produced here and never consumed), and `offsetRange` on the deep
    * partitions.
    */
  def probes(spark: SparkSession, work: Path, ix: Int, p: Plan): Map[String, (Double, String)] = {
    import spark.implicits._
    val root = work.resolve("broker").toString
    val deep = s"c$ix"
    val fresh = s"probe$ix"
    BrokerLog.createTopic(root, deep, Partitions)
    BrokerLog.createTopic(root, fresh, 1)
    (0 until p.tasks).map(i => (i.toLong, p.keyOf(i))).toDF("id", "k")
      .select(col("k").cast("string").cast("binary").as("key"), col("id").cast("string").as("value"),
        lit(deep).as("topic"))
      .write.format("graft-kafka").mode("append").option("root", root).save()
    val freshMs = Trace.span("sources.produce_fresh_probe", 0L, ix)(_ => produceMsPer1k(root, fresh, ProbeRecords))
    val deepMs = Trace.span("sources.produce_deep_probe", 0L, ix)(_ => produceMsPer1k(root, deep, ProbeRecords))
    val rangeMs = (0 until Partitions).map { q =>
      Trace.span("sources.offset_range", 0L, ix) { _ =>
        val t0 = System.nanoTime(); BrokerLog.offsetRange(root, deep, q); (System.nanoTime() - t0) / 1e6
      }
    }
    Map(
      "sources.produce_ms_per_1k" -> (freshMs, "ms"),
      "sources.produce_deep_ms_per_1k" -> (deepMs, "ms"),
      "sources.offset_range_ms" -> (Stats.median(rangeMs), "ms"))
  }

  /** Per-layer metrics of the broker path, measured in the traced run of
    * `async_io`: warm-up cycles, traced cycles for `seconds` (at least one),
    * then the probes. The outcome counts every traced task as an operation.
    */
  def traced(spark: SparkSession, args: RunArgs, seconds: Double): Outcome = {
    val work = args.work
    val rng = args.rng(2)
    var ix = 0
    def run(p: Plan, traced: Boolean): Cycle = {
      val c = cycle(spark, work, ix, p, traced, 0L)
      deleteTree(work.resolve("broker"))
      ix += 1
      c
    }
    WarmupSizes.foreach { n =>
      run(plan(rng, n), traced = false)
      Main.log(s"broker warm-up cycle $ix done")
    }
    val t0 = System.nanoTime()
    val cycles = scala.collection.mutable.ArrayBuffer.empty[Cycle]
    while (cycles.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) cycles += run(plan(rng), traced = true)
    val probeMetrics = probes(spark, work, ix, plan(rng))
    deleteTree(work.resolve("broker"))

    def p50Self(name: String) = Stats.quantile(Trace.selfTimesNs(name).map(_ / 1e6), 0.5)
    val triggers = cycles.flatMap(_.triggers)
    def trig(key: String) = Stats.median(triggers.map(_.getOrElse(key, 0.0)).toSeq)
    val n = cycles.size.toDouble
    val layers = probeMetrics ++ Map(
      "broker.tasks_per_s" -> (cycles.size * Tasks / cycles.map(_.seconds).sum, "1/s"),
      "broker.commit_p50_ms" -> (trig("batchDuration"), "ms"),
      "sources.produce_per_s" -> (Stats.median(cycles.map(c => Tasks / c.produceSeconds).toSeq), "1/s"),
      "sources.sink_write_ms" -> (p50Self("sources.sink_write"), "ms"),
      "api.process_ms" -> (p50Self("api.process"), "ms"),
      "streaming.trigger.latest_offset_ms" -> (trig("latestOffset"), "ms"),
      "streaming.trigger.get_batch_ms" -> (trig("getBatch"), "ms"),
      "streaming.trigger.query_planning_ms" -> (trig("queryPlanning"), "ms"),
      "streaming.trigger.add_batch_ms" -> (trig("addBatch"), "ms"),
      "streaming.trigger.wal_commit_ms" -> (trig("walCommit"), "ms"),
      "streaming.trigger.commit_offsets_ms" -> (trig("commitOffsets"), "ms"),
      "broker.triggers" -> (triggers.size / n, "count"),
      "broker.retried" -> (cycles.map(_.retried).sum / n, "count"),
      "broker.duplicates" -> (cycles.map(_.outputRecords - Tasks).sum / n, "count"))
    val notes = Seq(f"broker cycles=${cycles.size} triggers=${triggers.size} " +
      f"produce_s=${cycles.map(_.produceSeconds).mkString(",")} cycle_s=${cycles.map(_.seconds).mkString(",")}")
    Outcome(cycles.size.toLong * Tasks, cycles.map(_.failedIds.toLong).sum, Map.empty, layers, notes)
  }
}
