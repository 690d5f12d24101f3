package graft.testing

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's PUBLIC semantic-test harness, re-expressed for Spark
  * pipelines (`testing/.../processor/ProcessorTestSuite.java:102+`,
  * `ProcessingGuarantee.java:34-114`): pluggable invariant checkers fed every
  * produce/process event, plus a one-call chaos driver that kills and
  * restarts the query mid-run and asserts the delivery guarantees.
  *
  * Like the reference's embedded-Kafka harness, this runs the system under
  * test in ONE JVM (Spark local mode): the checkers are JVM-static so
  * executor-side closures and the driver share one event log. Closures
  * capture only the suite's string id and look the state up per event — the
  * suite object itself serializes trivially.
  *
  * Usage (the reference's `ProcessorTestSuite.builder(...).run()` shape):
  * {{{
  * val suite = GuaranteeSuite()                         // 3 default checkers
  * suite.chaosTest(spark, nKeys = 10, total = 400) { batch =>
  *   batch /* user pipeline under test */
  * }                                                    // runs + asserts
  * }}}
  */
trait ProcessingGuarantee extends Serializable {
  /** A task (key, id) was produced. Per key, calls must arrive in production
    * order — that order is the ordering contract being checked.
    */
  def onProduce(key: String, id: Long): Unit = ()
  /** Processing of (key, id) began. */
  def onProcessStart(key: String, id: Long): Unit = ()
  /** Processing of (key, id) finished. */
  def onProcessEnd(key: String, id: Long): Unit = ()
  /** Throw AssertionError if the guarantee was violated. */
  def doAssert(): Unit
}

/** AT_LEAST_ONCE_DELIVERY (`AtLeastOnceDelivery.java`): every produced task
  * is processed at least once; duplicates are legal.
  */
final class AtLeastOnceDelivery extends ProcessingGuarantee {
  private val produced = ConcurrentHashMap.newKeySet[(String, Long)]()
  private val processed = ConcurrentHashMap.newKeySet[(String, Long)]()
  override def onProduce(key: String, id: Long): Unit = { produced.add((key, id)); () }
  override def onProcessStart(key: String, id: Long): Unit = { processed.add((key, id)); () }
  def doAssert(): Unit = {
    val missing = produced.asScala.diff(processed.asScala)
    if (missing.nonEmpty)
      throw new AssertionError(
        s"at-least-once violated: ${missing.size} produced tasks never processed, " +
          s"e.g. ${missing.take(5).mkString(", ")}")
  }
}

/** PROCESS_ORDERING (`ProcessingGuarantee.java:44-72`, `ProcessOrdering
  * .java`): per key, tasks are observed in production order, modulo LEGAL
  * replay — the observed sequence must be a concatenation of runs that are
  * non-decreasing in production index, and a decrease (a replay restart) may
  * only jump back to an already-observed task. Committed work never
  * reappears as something new.
  */
final class ProcessOrdering extends ProcessingGuarantee {
  private val producedOrder = new ConcurrentHashMap[String, java.util.List[Long]]()
  private val observed = new ConcurrentHashMap[String, java.util.List[Long]]()
  override def onProduce(key: String, id: Long): Unit = {
    producedOrder.computeIfAbsent(key,
      _ => java.util.Collections.synchronizedList(new java.util.ArrayList[Long]())).add(id)
    ()
  }
  override def onProcessStart(key: String, id: Long): Unit = {
    observed.computeIfAbsent(key,
      _ => java.util.Collections.synchronizedList(new java.util.ArrayList[Long]())).add(id)
    ()
  }
  def doAssert(): Unit = observed.asScala.foreach { case (key, list) =>
    // production index per id; ids never produced order by their own value
    // (a processed-but-never-produced id is at-least-once's business, not
    // ordering's)
    val prodIdx: Map[Long, Int] = Option(producedOrder.get(key))
      .map(_.asScala.zipWithIndex.toMap)
      .getOrElse(list.asScala.toSeq.distinct.sorted.zipWithIndex.toMap)
    var prev = Int.MinValue
    val seenSoFar = scala.collection.mutable.Set[Int]()
    list.asScala.foreach { id =>
      prodIdx.get(id) match {
        // processed-but-never-produced: at-least-once's business, and
        // TRANSPARENT here — assigning it a sentinel index would poison the
        // next real comparison into a false violation
        case None => ()
        case Some(ord) =>
          if (ord < prev && !seenSoFar.contains(ord))
            throw new AssertionError(
              s"ordering violated for $key: task $id (production index $ord) observed " +
                s"after index $prev without $id having been processed before — a replay " +
                "may only restart from already-seen work")
          seenSoFar += ord
          prev = ord
      }
    }
  }
}

/** SERIAL_PROCESSING (`SerialProcessing.java`): two tasks with the same key
  * are never inside processing simultaneously, across every thread, partition
  * and query instance in the JVM.
  */
final class SerialProcessing extends ProcessingGuarantee {
  private val inFlight = new ConcurrentHashMap[String, AtomicBoolean]()
  private val violations = new AtomicInteger(0)
  override def onProcessStart(key: String, id: Long): Unit = {
    val guard = inFlight.computeIfAbsent(key, _ => new AtomicBoolean(false))
    if (!guard.compareAndSet(false, true)) { violations.incrementAndGet(); () }
  }
  override def onProcessEnd(key: String, id: Long): Unit = {
    inFlight.computeIfAbsent(key, _ => new AtomicBoolean(false)).set(false)
  }
  def doAssert(): Unit = {
    val n = violations.get()
    if (n > 0)
      throw new AssertionError(s"serial-per-key violated: $n same-key concurrent executions")
  }
}

/** A named bundle of guarantees plus the chaos driver. JVM-static state keyed
  * by `id`; the instance serializes into Spark closures as the id alone.
  */
final class GuaranteeSuite private[testing] (val id: String) extends Serializable {

  private def checkers: Seq[ProcessingGuarantee] = GuaranteeSuite.lookup(id)

  def recordProduce(key: String, id: Long): Unit = checkers.foreach(_.onProduce(key, id))

  /** Wrap one task's processing: fires start events, runs `body`, fires end
    * events. The serial checker's race window is exactly `body`'s duration —
    * keep real work (or [[GuaranteeSuite.raceWindow]]) inside it.
    */
  def process[A](key: String, taskId: Long)(body: => A): A = {
    checkers.foreach(_.onProcessStart(key, taskId))
    try body finally checkers.foreach(_.onProcessEnd(key, taskId))
  }

  /** Record a processed task with a widened race window (for pipelines whose
    * per-record work is too fast for the serial checker to ever observe an
    * overlap that exists).
    */
  def recordProcess(key: String, taskId: Long): Unit =
    process(key, taskId)(GuaranteeSuite.raceWindow())

  /** Assert every guarantee; AssertionError on the first violation. */
  def assertAll(): Unit = checkers.foreach(_.doAssert())

  /** The reference's chaos run (`ProcessorTestSuite.java:102+`: produce a
    * keyed stream, kill the subscription mid-run, restart it on the same
    * offsets, await completion, assert): drives `pipeline` over `total`
    * keyed tasks through a checkpointed streaming query that is STOPPED
    * mid-stream — with more data enqueued while it is down — and restarted
    * from the checkpoint. Every row of `pipeline`'s output is recorded as a
    * processed task, key-hash-routed (O2) with per-key offset order inside
    * the batch. `pipeline` must preserve (or produce) `key` and `id` columns.
    */
  def chaosTest(
      spark: SparkSession,
      nKeys: Int = 10,
      total: Int = 400,
      partitions: Int = 4)(
      pipeline: DataFrame => DataFrame = identity): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    chaosTestOver(spark, new ChaosMedium {
      val checkpoint = graft.Tables.scratchDir("graft-guarantee-ckpt")
      def write(spark: SparkSession, tasks: Seq[(String, Long)]): Unit = { in.addData(tasks); () }
      def read(spark: SparkSession): DataFrame = in.toDF().toDF("key", "id")
    }, nKeys, total, partitions)(pipeline)
  }

  /** [[chaosTest]] over a pluggable medium: the SAME chaos scenario — kill
    * mid-stream, produce while down, restart from the checkpoint, assert
    * every guarantee — against whatever source/sink pair the medium wires
    * up. The checkers never see the medium; running one scenario over
    * `graft-kafka`, `graft-jsonl` and MemoryStream is the proof that the
    * offset/guarantee machinery is source-generic.
    */
  def chaosTestOver(
      spark: SparkSession,
      medium: ChaosMedium,
      nKeys: Int = 10,
      total: Int = 400,
      partitions: Int = 4)(
      pipeline: DataFrame => DataFrame = identity): Unit = {
    val self = this

    def mkQuery() =
      medium.read(spark).writeStream
        .option("checkpointLocation", medium.checkpoint)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          pipeline(batch)
            .repartition(partitions, col("key"))
            .sortWithinPartitions(col("key"), col("id"))
            .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
              it.foreach(r =>
                self.recordProcess(r.getAs[String]("key"), r.getAs[Long]("id")))
            }
          ()
        }.start()

    def produce(from: Int, until: Int): Unit = {
      val tasks = (from until until).map { i =>
        val t = (s"key-${i % nKeys}", i.toLong)
        recordProduce(t._1, t._2)
        t
      }
      medium.write(spark, tasks)
    }

    val phase1 = total * 3 / 8
    val phase2 = total * 3 / 4
    var q = mkQuery()
    produce(0, phase1)
    q.processAllAvailable()
    // chaos: kill mid-stream, enqueue while down, restart from checkpoint
    q.stop()
    produce(phase1, phase2)
    q = mkQuery()
    produce(phase2, total)
    q.processAllAvailable()
    q.stop()

    assertAll()
  }
}

/** A produce/consume medium for [[GuaranteeSuite.chaosTestOver]]: `write`
  * persists keyed tasks preserving per-key order (sequence order IS the
  * production order the ordering checker verifies), `read` opens the
  * matching streaming frame with `key` (string) and `id` (long) columns,
  * and `checkpoint` stays stable across the scenario's restart.
  */
trait ChaosMedium {
  def checkpoint: String
  def write(spark: SparkSession, tasks: Seq[(String, Long)]): Unit
  def read(spark: SparkSession): DataFrame
}

object ChaosMedium {
  /** Tasks through a `graft-kafka` topic: the sink's key-hash routing keeps
    * per-key production order per partition; `id` rides the value bytes.
    */
  def kafka(root: String, topic: String, nPartitions: Int): ChaosMedium = new ChaosMedium {
    graft.sources.kafkalike.BrokerLog.createTopic(root, topic, nPartitions)
    val checkpoint: String =
      graft.Tables.scratchDir("graft-chaos-kafka-ckpt")
    // last claimed offset + 1 per partition, the produce hint that spares
    // each record an end-of-log scan (as GraftKafka's writer does)
    private val next = Array.fill(nPartitions)(-1L)
    def write(spark: SparkSession, tasks: Seq[(String, Long)]): Unit =
      // driver-side sequential produce in sequence order: the sink's
      // key-hash routing sends a key to one partition, appends in order
      tasks.foreach { case (k, id) =>
        val part = math.floorMod(scala.util.hashing.MurmurHash3.stringHash(k), nPartitions)
        next(part) = 1 + graft.sources.kafkalike.BrokerLog.produce(root, topic, part,
          graft.sources.kafkalike.BrokerLog.Record(
            k.getBytes("UTF-8"), id.toString.getBytes("UTF-8"), 1704067200000L + id, Seq.empty),
          hint = next(part))
      }
    def read(spark: SparkSession): DataFrame =
      spark.readStream.format("graft-kafka")
        .option("root", root).option("subscribe", topic).load()
        .select(col("key").cast("string").as("key"),
          col("value").cast("string").cast("long").as("id"))
  }

  /** Tasks through a `graft-jsonl` directory: key-hash routing to one of
    * `nFiles` append-only segments (a key always lands in the same file, so
    * per-key line order is production order), payload as a JSON object.
    */
  /** Tasks through a `graft-warc` directory: key-hash routing to one of
    * `nFiles` append-only plain-WARC files (a key always lands in the same
    * file, so per-key record order is production order); the key rides
    * WARC-Target-URI, the id rides the record block.
    */
  def warc(dir: String, nFiles: Int): ChaosMedium = new ChaosMedium {
    java.nio.file.Files.createDirectories(new java.io.File(dir).toPath)
    val checkpoint: String =
      graft.Tables.scratchDir("graft-chaos-warc-ckpt")
    def write(spark: SparkSession, tasks: Seq[(String, Long)]): Unit =
      tasks.groupBy { case (k, _) =>
        math.floorMod(scala.util.hashing.MurmurHash3.stringHash(k), nFiles)
      }.toSeq.sortBy(_._1).foreach { case (f, ts) =>
        graft.sources.warc.GraftWarc.append(dir, f"part-$f%03d.warc",
          ts.map { case (k, id) =>
            (Seq("WARC-Type" -> "resource", "WARC-Target-URI" -> k),
              id.toString.getBytes("UTF-8"))
          })
      }
    def read(spark: SparkSession): DataFrame =
      spark.readStream.format("graft-warc").option("path", dir).load()
        .select(col("target_uri").as("key"),
          col("content").cast("string").cast("long").as("id"))
  }

  def jsonl(dir: String, nFiles: Int): ChaosMedium = new ChaosMedium {
    val checkpoint: String =
      graft.Tables.scratchDir("graft-chaos-jsonl-ckpt")
    def write(spark: SparkSession, tasks: Seq[(String, Long)]): Unit =
      tasks.groupBy { case (k, _) =>
        math.floorMod(scala.util.hashing.MurmurHash3.stringHash(k), nFiles)
      }.toSeq.sortBy(_._1).foreach { case (f, ts) =>
        graft.sources.jsonl.GraftJsonl.append(dir, f"part-$f%03d.jsonl",
          ts.map { case (k, id) => s"""{"key":"$k","id":$id}""" })
      }
    def read(spark: SparkSession): DataFrame =
      spark.readStream.format("graft-jsonl").option("path", dir).load()
        .select(get_json_object(col("value"), "$.key").as("key"),
          get_json_object(col("value"), "$.id").cast("long").as("id"))
  }
}

object GuaranteeSuite {
  private val registry = new ConcurrentHashMap[String, Seq[ProcessingGuarantee]]()

  private[testing] def lookup(id: String): Seq[ProcessingGuarantee] = {
    val cs = registry.get(id)
    require(cs != null,
      s"GuaranteeSuite '$id' not registered in this JVM — the testkit is " +
        "single-JVM (local-mode), like the reference's embedded-Kafka harness")
    cs
  }

  /** The reference's default guarantee set (`ProcessorTestSuite.java:87-99`). */
  def defaultGuarantees(): Seq[ProcessingGuarantee] =
    Seq(new AtLeastOnceDelivery, new ProcessOrdering, new SerialProcessing)

  def apply(guarantees: Seq[ProcessingGuarantee] = defaultGuarantees()): GuaranteeSuite = {
    val id = java.util.UUID.randomUUID().toString
    registry.put(id, guarantees)
    new GuaranteeSuite(id)
  }

  /** Park ~50 µs: widens the same-key race window so a concurrency bug that
    * exists is actually observed (the reference's processors do real work
    * per task; a no-op processor would close the window). parkNanos, not
    * `Thread.sleep(0, nanos)` — the JDK rounds any sub-millisecond sleep UP
    * to a full millisecond, which made every chaos run serialize a hidden
    * 1 ms per task.
    */
  def raceWindow(): Unit =
    java.util.concurrent.locks.LockSupport.parkNanos(50000L)
}
