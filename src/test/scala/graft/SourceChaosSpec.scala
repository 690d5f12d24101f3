package graft

import java.nio.file.Files

import graft.testing.{ChaosMedium, GuaranteeSuite}

/** The SAME chaos scenario — kill the query mid-stream, produce while it is
  * down, restart from the checkpoint, assert at-least-once + per-key order
  * + serial-per-key — over BOTH DSv2 media. The checkers are identical
  * objects in both runs; only the medium changes. This is the testkit's
  * source-genericity proof: the guarantees hold because of the offset
  * semantics (checkpointed resume, per-segment append order, key routing),
  * not because of anything broker-shaped.
  */
class SourceChaosSpec extends SparkTestBase {

  test("chaos scenario over graft-kafka: all three guarantees hold") {
    val suite = GuaranteeSuite()
    suite.chaosTestOver(spark,
      ChaosMedium.kafka(tempDir("graft-chaos-kafka"),
        "chaos", nPartitions = 4),
      nKeys = 20, total = 1000)(identity)
  }

  test("chaos scenario over graft-jsonl: all three guarantees hold") {
    val suite = GuaranteeSuite()
    suite.chaosTestOver(spark,
      ChaosMedium.jsonl(tempDir("graft-chaos-jsonl"), nFiles = 4),
      nKeys = 20, total = 1000)(identity)
  }

  test("retired-then-replayed checkpoint: restart neither fails nor duplicates") {
    import java.io.File
    import scala.jdk.CollectionConverters._
    import graft.sources.jsonl.GraftJsonl
    val dir = tempDir("graft-retire-replay")
    val ckpt = tempDir("graft-retire-replay-ckpt")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, String)]()
    def startTail() = spark.readStream.format("graft-jsonl")
      .option("path", dir).option("retentionMs", "0") // strict loss mode + active retirement
      .load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => got.add(
          (r.getAs[String]("file"), r.getAs[Long]("pos"), r.getAs[String]("value"))))
        ()
      }.start()

    GraftJsonl.append(dir, "a.jsonl", (0 until 10).map(i => s"""{"i":$i}"""))
    GraftJsonl.append(dir, "b.jsonl", (10 until 20).map(i => s"""{"i":$i}"""))
    val q = startTail()
    try {
      q.processAllAvailable()
      // drive one more trigger so the consumed segments retire (deleted by
      // the source, dropped from the offset map)
      GraftJsonl.append(dir, "c.jsonl", (20 until 30).map(i => s"""{"i":$i}"""))
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 20000
      while ((new File(dir, "a.jsonl").isFile || new File(dir, "b.jsonl").isFile) &&
        System.currentTimeMillis() < deadline) {
        GraftJsonl.append(dir, "c.jsonl", Seq("""{"i":-1}"""))
        q.processAllAvailable()
      }
      assert(!new File(dir, "a.jsonl").isFile && !new File(dir, "b.jsonl").isFile,
        "consumed segments must retire")
    } finally q.stop()

    // force a REPLAY of the final batch on restart: its checkpoint now
    // references a world where a.jsonl/b.jsonl are gone
    val commitsDir = new File(s"$ckpt/commits")
    val last = commitsDir.listFiles().map(_.getName).filter(_.forall(_.isDigit)).map(_.toInt).max
    assert(new File(commitsDir, last.toString).delete())
    new File(commitsDir, s".$last.crc").delete()

    val before = got.asScala.toSet
    val q2 = startTail()
    try {
      q2.processAllAvailable() // replays the last epoch; must not throw
      GraftJsonl.append(dir, "d.jsonl", Seq("""{"i":99}"""))
      q2.processAllAvailable()
    } finally q2.stop()
    val all = got.asScala.toVector
    // the replay may re-deliver the final batch's records under the SAME
    // stable (file, pos) ids — at-least-once with idempotent ids — but must
    // never resurrect retired segments or re-read a file from 0
    val dupIds = all.groupBy(r => (r._1, r._2)).filter(_._2.size > 2)
    assert(dupIds.isEmpty, s"a (file,pos) id delivered 3+ times: ${dupIds.keys}")
    val expected = before + (("d.jsonl", 0L, """{"i":99}"""))
    assert(all.toSet == expected,
      s"replay resurrected or lost records: ${(all.toSet diff expected) ++ (expected diff all.toSet)}")
  }

  test("the jsonl medium's checkers still detect loss (scenario has bite)") {
    // same medium, but a pipeline that silently DROPS one key's tasks —
    // at-least-once must trip, proving the parameterized run isn't vacuous
    val suite = GuaranteeSuite()
    val e = intercept[AssertionError] {
      suite.chaosTestOver(spark,
        ChaosMedium.jsonl(tempDir("graft-chaos-jsonl-neg"),
          nFiles = 4),
        nKeys = 10, total = 200)(_.filter(org.apache.spark.sql.functions.col("key") =!= "key-3"))
    }
    assert(e.getMessage.contains("never processed"))
  }
}
