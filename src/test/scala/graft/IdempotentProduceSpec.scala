package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{GraftConsumers, TaskSource, TaskWriter}
import graft.sources.kafkalike.BrokerLog

/** Effectively-once across the produce hop (EXTENSION — the reference's
  * producer is at-least-once by design,
  * `DecatonTaskRetryQueueingProcessor.java:60-112`; this re-expresses
  * Kafka's idempotent-producer idea as a data-level marker): a produce
  * retried after an uncertain failure re-lands the same
  * `(producer id, sequence)` headers, and the consumer's marker dedup
  * collapses them inside watermark-bounded state. The broker really holds
  * both copies — only delivery is de-duplicated — and unmarked traffic is
  * never collapsed.
  */
object IdempotentProduceSpec {
  val delivered = new ConcurrentLinkedQueue[(String, Long)]() // (value, offset)
  def reset(): Unit = delivered.clear()
}

class IdempotentProduceSpec extends SparkTestBase {

  test("a retried produce is delivered once; unmarked records pass untouched") {
    IdempotentProduceSpec.reset()
    val root = tempDir("graft-idem")
    val topic = "tasks"
    BrokerLog.createTopic(root, topic, 2)

    val t0 = System.currentTimeMillis()
    val meta = struct(
      lit(t0).as("timestamp_millis"),
      lit("graft-test").as("source_application_id"),
      lit("i-0").as("source_instance_id"),
      lit(0L).as("retry_count"),
      lit(0L).as("scheduled_time_millis"))
    val rows = spark.range(10).select(col("id"), meta.as("meta"))
    val shaped = TaskWriter.withIdempotenceMarker(
      TaskWriter.toKafkaShape(rows, col("id"), concat(lit("task-"), col("id")),
        col("meta"), topic),
      producerId = "producer-A", seqCol = col("key").cast("string"))

    // the uncertain-failure retry: the SAME marked batch lands twice
    shaped.write.format("graft-kafka").mode("append").option("root", root).save()
    shaped.write.format("graft-kafka").mode("append").option("root", root).save()
    // plus 5 UNMARKED records — same values as tasks 0-4, no marker headers
    TaskWriter.toKafkaShape(rows.filter(col("id") < 5), col("id"),
        concat(lit("task-"), col("id")), col("meta"), topic)
      .write.format("graft-kafka").mode("append").option("root", root).save()

    val depth = (0 until 2).map(p => BrokerLog.offsetRange(root, topic, p)._2).sum
    assert(depth == 25L, s"the broker must hold BOTH produced copies + unmarked, got $depth")

    val q = GraftConsumers.dedupeByMarker(
        TaskSource.brokerStream(spark, root, topic), watermarkDelay = "1 hour")
      .writeStream
      .option("checkpointLocation", tempDir("graft-idem-ckpt"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.select(col("value").cast("string"), col("offset")).collect()
          .foreach(r => IdempotentProduceSpec.delivered.add((r.getString(0), r.getLong(1))))
        ()
      }.start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (IdempotentProduceSpec.delivered.size < 15 &&
             System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        Thread.sleep(20)
      }
      val got = IdempotentProduceSpec.delivered.asScala.toVector
      val marked = got.map(_._1).groupBy(identity).view.mapValues(_.size).toMap
      // each of the 10 marked tasks delivered EXACTLY twice total: once from
      // the deduped marked pair, once from its unmarked twin (ids 0-4), i.e.
      // marked dedup collapsed the retry copy but never an unmarked record
      (0L until 10L).foreach { id =>
        val expected = if (id < 5) 2 else 1
        assert(marked.getOrElse(s"task-$id", 0) == expected,
          s"task-$id delivered ${marked.getOrElse(s"task-$id", 0)}x, expected $expected: $marked")
      }
      assert(got.size == 15, s"expected 15 deliveries (10 deduped + 5 unmarked), got ${got.size}")
    } finally q.stop()
  }
}
