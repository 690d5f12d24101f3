package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.sources.kafkalike.BrokerLog

/** O8 — offset-regression repair (`ProcessorSubscription.receive:107-116`
  * analog): the broker truncates past the consumer's committed offset while
  * the query is down. `failOnDataLoss=false` resumes from the earliest
  * available offset (repair + keep going); `true` fails the query loudly.
  * Works because BrokerLog's log-end offset survives truncation — a fresh
  * topic and a fully-truncated one are distinguishable.
  */
object GraftKafkaDataLossSpec {
  val offsets = new ConcurrentLinkedQueue[Long]()
  def reset(): Unit = offsets.clear()
}

class GraftKafkaDataLossSpec extends SparkTestBase {

  private def produce(root: String, topic: String, n: Int): Unit =
    (0 until n).foreach { i =>
      BrokerLog.produce(root, topic, 0,
        BrokerLog.Record(s"k$i".getBytes, s"v$i".getBytes, 1704067200000L + i, Nil))
    }

  private def runQuery(root: String, topic: String, ckpt: String, failOnDataLoss: Boolean) = {
    spark.readStream.format("graft-kafka")
      .option("root", root).option("subscribe", topic)
      .option("failOnDataLoss", failOnDataLoss.toString)
      .load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.select(col("offset")).collect()
          .foreach(r => GraftKafkaDataLossSpec.offsets.add(r.getLong(0)))
        ()
      }.start()
  }

  test("failOnDataLoss=false resumes from the earliest available offset after truncation") {
    val root = tempDir("graft-dl")
    BrokerLog.createTopic(root, "dl", 1)
    val ckpt = tempDir("graft-dl-ckpt")
    GraftKafkaDataLossSpec.reset()

    produce(root, "dl", 20)
    val q1 = runQuery(root, "dl", ckpt, failOnDataLoss = false)
    try { q1.processAllAvailable() } finally q1.stop()
    assert(GraftKafkaDataLossSpec.offsets.asScala.toSeq.sorted == (0L until 20L),
      "first run consumes the backlog, committing offset 20")

    // while the consumer is down: 10 more records, then retention wipes
    // everything below 25 — offsets 20-24 are lost UNPROCESSED
    produce(root, "dl", 10)
    BrokerLog.truncateBefore(root, "dl", 0, 25L)
    assert(BrokerLog.offsetRange(root, "dl", 0) == (25L, 30L))

    GraftKafkaDataLossSpec.reset()
    val q2 = runQuery(root, "dl", ckpt, failOnDataLoss = false)
    try { q2.processAllAvailable() } finally q2.stop()
    assert(GraftKafkaDataLossSpec.offsets.asScala.toSeq.sorted == (25L until 30L),
      s"must repair to earliest-available (25) and drain the survivors, got ${GraftKafkaDataLossSpec.offsets.asScala.toSeq.sorted}")
  }

  test("failOnDataLoss=true fails the query loudly on the same truncation") {
    val root = tempDir("graft-dl2")
    BrokerLog.createTopic(root, "dl2", 1)
    val ckpt = tempDir("graft-dl2-ckpt")
    GraftKafkaDataLossSpec.reset()

    produce(root, "dl2", 20)
    val q1 = runQuery(root, "dl2", ckpt, failOnDataLoss = true)
    try { q1.processAllAvailable() } finally q1.stop()

    produce(root, "dl2", 10)
    BrokerLog.truncateBefore(root, "dl2", 0, 25L)

    val q2 = runQuery(root, "dl2", ckpt, failOnDataLoss = true)
    val ex = intercept[StreamingQueryException] {
      try q2.processAllAvailable() finally q2.stop()
    }
    val msg = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msg.contains("data loss"), s"failure must name the data loss: $msg")
  }

  test("full truncation is detected as loss, not mistaken for a fresh topic") {
    val root = tempDir("graft-dl3")
    BrokerLog.createTopic(root, "dl3", 1)
    val ckpt = tempDir("graft-dl3-ckpt")
    GraftKafkaDataLossSpec.reset()

    produce(root, "dl3", 5)
    val q1 = runQuery(root, "dl3", ckpt, failOnDataLoss = false)
    try { q1.processAllAvailable() } finally q1.stop()

    // wipe EVERYTHING, then produce fresh records — without the persisted
    // high water they would re-claim offsets 0-2 and silently alias the
    // committed checkpoint (the r3 latent bug); with it they claim 5-7
    BrokerLog.truncateBefore(root, "dl3", 0, 100L)
    produce(root, "dl3", 3)
    assert(BrokerLog.offsetRange(root, "dl3", 0) == (5L, 8L))

    GraftKafkaDataLossSpec.reset()
    val q2 = runQuery(root, "dl3", ckpt, failOnDataLoss = false)
    try { q2.processAllAvailable() } finally q2.stop()
    assert(GraftKafkaDataLossSpec.offsets.asScala.toSeq.sorted == (5L until 8L),
      s"post-wipe records must arrive with non-regressed offsets, got ${GraftKafkaDataLossSpec.offsets.asScala.toSeq.sorted}")
  }
}
