package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The reference's semantic test harness, exercised through the PUBLIC
  * testkit (`graft.testing.GuaranteeSuite` — the `ProcessorTestSuite
  * .java:87-123` / `ProcessingGuarantee.java:34-114` analog): produce a
  * keyed task stream, kill and restart the query mid-run, then assert the
  * three delivery guarantees. foreachBatch + checkpoint is at-least-once:
  * replays are legal, loss is not.
  */
case class KeyedTask(key: String, id: Long, ts: Timestamp)

class GuaranteeSpec extends SparkTestBase {

  test("at-least-once + per-key ordering + serial-per-key across a restart (public testkit)") {
    // a user chaos-tests a pipeline in three lines:
    val suite = graft.testing.GuaranteeSuite()
    suite.chaosTest(spark, nKeys = 10, total = 400)(identity)
    // chaosTest already ran assertAll(); re-assert to show it is callable
    // standalone after more manual events too
    suite.assertAll()
  }

  test("the testkit checkers detect the violations they claim to (negative cases)") {
    import graft.testing._
    // loss → at-least-once trips
    locally {
      val g = new AtLeastOnceDelivery
      g.onProduce("k", 1L); g.onProduce("k", 2L); g.onProcessStart("k", 1L)
      val e = intercept[AssertionError](g.doAssert())
      assert(e.getMessage.contains("never processed"))
    }
    // replay jumping back to UNSEEN work → ordering trips; legal replay passes
    locally {
      val g = new ProcessOrdering
      Seq(1L, 2L, 3L).foreach(g.onProduce("k", _))
      Seq(1L, 2L, 1L, 2L, 3L).foreach(g.onProcessStart("k", _)) // legal replay
      g.doAssert()
      val bad = new ProcessOrdering
      Seq(1L, 2L, 3L).foreach(bad.onProduce("k", _))
      Seq(2L, 3L, 1L).foreach(bad.onProcessStart("k", _)) // 1 was never seen
      val e = intercept[AssertionError](bad.doAssert())
      assert(e.getMessage.contains("ordering violated"))
    }
    // a processed-but-never-produced id is TRANSPARENT to ordering (it is
    // at-least-once's business) — it must not poison the next comparison
    // into a false violation
    locally {
      val g = new ProcessOrdering
      Seq(1L, 2L).foreach(g.onProduce("k", _))
      // ghost 99 between 1 and 2: legal sequence, the ghost carries no index
      Seq(1L, 99L, 2L).foreach(g.onProcessStart("k", _))
      g.doAssert()
    }
    // same-key overlap → serial trips; distinct keys do not
    locally {
      val g = new SerialProcessing
      g.onProcessStart("a", 1L); g.onProcessStart("b", 2L) // cross-key overlap ok
      g.onProcessEnd("a", 1L); g.onProcessEnd("b", 2L)
      g.doAssert()
      g.onProcessStart("a", 3L); g.onProcessStart("a", 4L) // same-key overlap
      val e = intercept[AssertionError](g.doAssert())
      assert(e.getMessage.contains("serial-per-key violated"))
    }
  }

  test("effectively-once sink: batch-id-keyed writes stay exact across a FORCED replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val ckpt = tempDir("graft-eo-ckpt")
    val out = tempDir("graft-eo-out")
    val in = MemoryStream[KeyedTask]
    val total = 200
    def mk() = graft.streaming.StreamOps.effectivelyOnceParquet(in.toDF(), out, ckpt)

    var q = mk()
    in.addData((0 until 120).map(i =>
      KeyedTask(s"key-${i % 7}", i.toLong, new Timestamp(1704067200000L + i * 1000L))))
    q.processAllAvailable()
    in.addData((120 until total).map(i =>
      KeyedTask(s"key-${i % 7}", i.toLong, new Timestamp(1704067200000L + i * 1000L))))
    q.processAllAvailable()
    q.stop()

    // force an at-least-once replay: drop the LAST commit marker, so the
    // restarted query re-executes that batch with the SAME batch id
    val commitsDir = new java.io.File(s"$ckpt/commits")
    val last = commitsDir.listFiles().map(_.getName).filter(_.forall(_.isDigit)).map(_.toInt).max
    assert(new java.io.File(commitsDir, last.toString).delete(), "failed to drop commit marker")
    // also drop the checksum shadow, or the re-commit's rename fails and is
    // misread as a concurrent query on the same checkpoint
    new java.io.File(commitsDir, s".$last.crc").delete()

    q = mk()
    q.processAllAvailable()
    q.stop()

    // the batch really was re-executed: its commit marker is back
    assert(new java.io.File(commitsDir, last.toString).exists,
      "restart did not replay the uncommitted batch — the test lost its bite")
    // and the replayed batch overwrote itself: the sink is EXACT, not at-least-once
    val got = spark.read.parquet(out).select("id").as[Long].collect().sorted
    assert(got.toSeq === (0L until total.toLong),
      s"sink has ${got.length} rows for $total inputs — replay duplicated or lost data")
  }
}
