package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.kafkalike.BrokerLog

/** The reference's multi-instance rebalance storm
  * (`ProcessorTestSuite.java:102+`: 3 instances × 8 partitions, mid-run
  * restarts), through REAL concurrent `readStream.format("graft-kafka")`
  * queries sharing one topic. Three "processor instances" take static
  * partition assignments (the `assign` option — disjoint sets covering all 8
  * partitions), 10k keyed tasks are produced through the graft-kafka sink
  * (key-hash routing, per-key production order preserved), one instance is
  * killed mid-run and restarted from its checkpoint (the
  * rebalance-onPartitionsRevoked/Assigned analog), and the three delivery
  * guarantees are asserted through the PUBLIC testkit
  * (`graft.testing.GuaranteeSuite` — at-least-once, per-key order modulo
  * replay, serial-per-key) exactly as a user would chaos-test their own
  * multi-instance deployment.
  */
class RebalanceStormSpec extends SparkTestBase {

  test("3 instances × 8 partitions: restart one mid-run, all guarantees hold over 10k tasks") {
    val suite = graft.testing.GuaranteeSuite()

    val root = tempDir("graft-storm")
    val topic = "storm"
    val nPartitions = 8
    val nKeys = 200
    val total = 10000
    BrokerLog.createTopic(root, topic, nPartitions)

    // instance → static partition assignment (disjoint, covering all 8)
    val assignments = Seq("""{"storm":[0,1,2]}""", """{"storm":[3,4,5]}""", """{"storm":[6,7]}""")
    val checkpoints = assignments.map(_ => tempDir("graft-storm-ckpt"))

    def produce(from: Int, until: Int): Unit = {
      // per-key production order = id order (one broker partition per key)
      (from until until).foreach(i => suite.recordProduce(s"key-${i % nKeys}", i.toLong))
      spark.range(from, until).select(
          concat(lit("key-"), col("id") % nKeys).cast("binary").as("key"),
          col("id").cast("string").cast("binary").as("value"))
        // per-key production order: one writer task per key, rows in id order
        .repartition(4, col("key")).sortWithinPartitions(col("key"), col("value").cast("string").cast("long"))
        .write.format("graft-kafka").mode("append")
        .option("root", root).option("topic", topic).save()
    }

    def startInstance(i: Int) =
      spark.readStream.format("graft-kafka")
        .option("root", root).option("assign", assignments(i))
        .load()
        .writeStream.option("checkpointLocation", checkpoints(i))
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // O2 key-hash subpartitioning + per-key offset order inside the batch
          batch.select(col("key").cast("string").as("k"),
              col("value").cast("string").cast("long").as("id"), col("offset"))
            .repartition(4, col("k")).sortWithinPartitions(col("k"), col("offset"))
            .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
              it.foreach(r => suite.recordProcess(r.getAs[String]("k"), r.getAs[Long]("id")))
            }
          ()
        }.start()

    produce(0, 4000)
    val queries = scala.collection.mutable.ArrayBuffer(
      startInstance(0), startInstance(1), startInstance(2))
    try {
      queries.foreach(_.processAllAvailable())
      // the storm: kill instance 1 mid-run, keep producing while it is down
      queries(1).stop()
      produce(4000, 8000)
      queries(0).processAllAvailable()
      queries(2).processAllAvailable()
      // restart from its checkpoint (rebalance recovery), produce the rest
      queries(1) = startInstance(1)
      produce(8000, total)
      queries.foreach(_.processAllAvailable())

      // all three guarantees, via the public testkit — at-least-once,
      // per-key order modulo replay, serial-per-key across the 3 instances
      suite.assertAll()
    } finally queries.foreach(q => if (q.isActive) q.stop())
  }

  test("jsonl twin: 3 instances × 8 segment files, restart one mid-run, guarantees hold") {
    // the SAME storm choreography over the second medium: the "partition"
    // is a segment file, static assignment is suffix-based (instance i
    // tails only `*.s<i>.jsonl`, disjoint and covering all 8 files in one
    // shared directory), a key's records always land in one file in
    // production order, and (file, pos) is the offset. This is the
    // source-genericity proof at storm scale — the guarantees hold because
    // of the offset semantics, not anything broker-shaped.
    import graft.sources.jsonl.GraftJsonl
    val suite = graft.testing.GuaranteeSuite()

    val dir = tempDir("graft-jsonl-storm")
    val nFiles = 8
    val nKeys = 200
    val total = 10000
    def instanceOf(f: Int): Int = if (f < 3) 0 else if (f < 6) 1 else 2
    def fileName(f: Int): String = f"part-$f%02d.s${instanceOf(f)}.jsonl"
    val checkpoints = (0 until 3).map(_ =>
      tempDir("graft-jsonl-storm-ckpt"))

    def produce(from: Int, until: Int): Unit = {
      (from until until).foreach(i => suite.recordProduce(s"key-${i % nKeys}", i.toLong))
      (from until until).map(i => (s"key-${i % nKeys}", i.toLong))
        .groupBy { case (k, _) =>
          math.floorMod(scala.util.hashing.MurmurHash3.stringHash(k), nFiles)
        }
        .toSeq.sortBy(_._1)
        .foreach { case (f, ts) =>
          GraftJsonl.append(dir, fileName(f),
            ts.sortBy(_._2).map { case (k, id) => s"""{"k":"$k","id":$id}""" })
        }
    }

    def startInstance(i: Int) =
      spark.readStream.format("graft-jsonl")
        .option("path", dir).option("suffix", s".s$i.jsonl")
        .load()
        .writeStream.option("checkpointLocation", checkpoints(i))
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // a key lives in exactly one file, so (k, pos) ordering is per-key
          // production order — the O2 subpartitioning analog
          batch.select(
              get_json_object(col("value"), "$.k").as("k"),
              get_json_object(col("value"), "$.id").cast("long").as("id"),
              col("pos"))
            .repartition(4, col("k")).sortWithinPartitions(col("k"), col("pos"))
            .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
              it.foreach(r => suite.recordProcess(r.getAs[String]("k"), r.getAs[Long]("id")))
            }
          ()
        }.start()

    produce(0, 4000)
    val queries = scala.collection.mutable.ArrayBuffer(
      startInstance(0), startInstance(1), startInstance(2))
    try {
      queries.foreach(_.processAllAvailable())
      queries(1).stop()
      produce(4000, 8000)
      queries(0).processAllAvailable()
      queries(2).processAllAvailable()
      queries(1) = startInstance(1)
      produce(8000, total)
      queries.foreach(_.processAllAvailable())
      suite.assertAll()
    } finally queries.foreach(q => if (q.isActive) q.stop())
  }
}
