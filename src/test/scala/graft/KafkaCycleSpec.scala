package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.TaskMetadata
import graft.sources.{TaskSource, TaskWriter}
import graft.sources.kafkalike.BrokerLog

/** The reference's `RetryQueueingTest.java` analog (347 LoC of semantics),
  * now through an ACTUAL `readStream.format("graft-kafka")` over the
  * file-backed broker — no driver-side queue surrogate. The running query:
  *
  *  - subscribes origin + retry in ONE subscription
  *    (`ProcessorSubscription.java:219-225`) via [[TaskSource.brokerStream]];
  *  - failed tasks leave through the real producer surface
  *    (`TaskWriter.toRetryShape` → `write.format("graft-kafka")`) with
  *    `retry_count` advanced and a protobuf dt_meta header, landing on
  *    `<topic>-retry` with a broker-assigned offset;
  *  - redelivery is the broker's, not the test's: the subscription picks the
  *    retry record up in a later micro-batch, offsets advancing across
  *    triggers from Spark's checkpoint;
  *  - backoff is honored: a not-yet-due record is re-produced untouched (the
  *    consumer's scheduled-execution pause over the retry hop, C1) and only
  *    processed once `scheduled_time_millis` passes;
  *  - every task completes at-least-once.
  */
object KafkaCycleSpec {
  // (batchId, key, retryCount, lateByMillis) per completed task
  val processed = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]()
  def reset(): Unit = processed.clear()
}

class KafkaCycleSpec extends SparkTestBase {

  test("kafkaOptions subscribes origin + retry + shaping topics in one subscription (S1)") {
    val opts = TaskSource.kafkaOptions("tasks", Some("tasks-retry"), Seq("tasks-shaping"), Some(500L))
    assert(opts("subscribe") == "tasks,tasks-retry,tasks-shaping")
    assert(opts("maxOffsetsPerTrigger") == "500")
    assert(opts("failOnDataLoss") == "false")
  }

  test("consume → fail → retry-produce → broker redelivery → backoff → complete on a real readStream") {
    import spark.implicits._
    KafkaCycleSpec.reset()

    val root = tempDir("graft-kafka-cycle")
    val origin = "tasks"
    val retryTopic = "tasks-retry"
    BrokerLog.createTopic(root, origin, 2)
    BrokerLog.createTopic(root, retryTopic, 2)
    val backoffMs = 400L

    // origin production through the REAL producer path: dt_meta header encoded
    // by the client surface, records landed by the graft-kafka batch sink
    val t0 = System.currentTimeMillis()
    val originRows = spark.range(10)
      .select(col("id"),
        struct(
          lit(t0).as("timestamp_millis"),
          lit("graft-test").as("source_application_id"),
          lit("i-0").as("source_instance_id"),
          lit(0L).as("retry_count"),
          lit(0L).as("scheduled_time_millis")).as("meta"))
    TaskWriter.toKafkaShape(originRows, col("id"), col("id").cast("string"), col("meta"), origin)
      .write.format("graft-kafka").mode("append").option("root", root).save()
    assert(BrokerLog.offsetRange(root, origin, 0)._2 +
      BrokerLog.offsetRange(root, origin, 1)._2 == 10L, "10 origin records landed")

    val q = TaskSource.brokerStream(spark, root, origin, Some(retryTopic))
      .writeStream
      .option("checkpointLocation", tempDir("graft-kafka-cycle-ckpt"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val now = System.currentTimeMillis()
        val withMeta = batch
          .withColumn("meta",
            graft.functions.dt_meta_decode(
              element_at(map_from_entries(col("headers")), TaskMetadata.HeaderKey)))
          .withColumn("k", col("key").cast("string").cast("long"))
        // C1 pause analog: not-yet-due retry records go back to the broker
        // untouched and re-arrive in a later trigger
        withMeta.filter(col("meta.scheduled_time_millis") > now)
          .select(col("key"), col("value"), col("headers"), lit(retryTopic).as("topic"))
          .write.format("graft-kafka").mode("append").option("root", root).save()
        val due = withMeta.filter(col("meta.scheduled_time_millis") <= now)
        // process: keys divisible by 3 fail on first delivery only
        val failing = col("k") % 3 === 0 && col("meta.retry_count") === 0
        due.filter(!failing)
          .select(col("k"), col("meta.retry_count"),
            (lit(now) - col("meta.scheduled_time_millis")).as("late"))
          .as[(Long, Long, Long)].collect()
          .foreach { case (k, rc, late) => KafkaCycleSpec.processed.add((batchId, k, rc, late)) }
        // the real retry producer: retry_count+1, scheduled = now+backoff,
        // target <topic>-retry — straight into the broker sink
        TaskWriter.toRetryShape(
            due.filter(failing), col("k"), col("value").cast("string"), col("meta"), origin,
            lit(now), lit(backoffMs))
          .write.format("graft-kafka").mode("append").option("root", root).save()
        ()
      }.start()

    try {
      val deadline = System.currentTimeMillis() + 60000
      while (KafkaCycleSpec.processed.asScala.map(_._2).toSet.size < 10 &&
             System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        Thread.sleep(50)
      }
      val done = KafkaCycleSpec.processed.asScala.toVector
      assert(done.map(_._2).toSet == (0L until 10L).toSet, s"all tasks must complete, got $done")

      val retried = done.filter(_._2 % 3 == 0)
      assert(retried.forall(_._3 == 1L), s"retried tasks must carry retry_count=1: $retried")
      assert(done.filter(_._2 % 3 != 0).forall(_._3 == 0L))
      // backoff honored: never processed before scheduled_time_millis
      assert(retried.forall(_._4 >= 0L), s"task ran before its backoff deadline: $retried")

      // redelivery really crossed the broker: the retry topic carries the
      // retry production (+ any pause requeues), and the subscription's
      // offsets advanced across micro-batches (first-pass completions in an
      // earlier trigger than the backed-off ones)
      val retryDepth = (0 until 2).map(p => BrokerLog.offsetRange(root, retryTopic, p)._2).sum
      assert(retryDepth >= 4, s"retry topic must have received the 4 failures, depth=$retryDepth")
      val firstPassBatch = done.filter(_._2 % 3 != 0).map(_._1).min
      assert(retried.forall(_._1 > firstPassBatch),
        s"retried completions must land in a later micro-batch: $done")
    } finally q.stop()
  }
}
