package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StatefulCompaction

class StatefulCompactionSpec extends SparkTestBase {

  private def t(s: String): Timestamp = Timestamp.valueOf(s)

  test("flatMapGroupsWithState compaction: arbitrary compactor, linger flush on watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]

    // compactor: keep the HIGHEST v (not latest-by-time — a pick function no
    // built-in max_by-on-timestamp would express for us)
    val compacted = StatefulCompaction.compactTyped[String, Ev](
      in.toDS().withWatermark("ts", "0 seconds"),
      key = _.key,
      eventTimeMillis = _.ts.getTime,
      lingerMillis = 5000L,
      pick = (a, b) => if (a.v >= b.v) a else b)

    val q = compacted.writeStream.format("memory").queryName("state_compact")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        Ev("a", t("2024-01-01 00:00:01"), 3),
        Ev("a", t("2024-01-01 00:00:02"), 9),
        Ev("a", t("2024-01-01 00:00:03"), 5),
        Ev("b", t("2024-01-01 00:00:02"), 1))
      q.processAllAvailable()
      // nothing emitted yet: windows still open
      assert(spark.table("state_compact").count() == 0)
      // advance the watermark past the deadlines
      in.addData(Ev("c", t("2024-01-01 00:01:00"), 0))
      q.processAllAvailable()
      val rows = spark.table("state_compact").as[Ev].collect().map(e => e.key -> e.v).toMap
      assert(rows("a") == 9, "compactor must keep the max-v survivor")
      assert(rows("b") == 1)
    } finally q.stop()
  }

  test("compaction state survives a query restart (checkpointed state store)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val checkpoint = tempDir("graft-compact-ckpt")
    val outDir = tempDir("graft-compact-out")
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]

    // file sink (memory sink cannot recover from a checkpoint)
    def mkQuery() = StatefulCompaction.compactTyped[String, Ev](
      in.toDS().withWatermark("ts", "0 seconds"),
      key = _.key,
      eventTimeMillis = _.ts.getTime,
      lingerMillis = 5000L,
      pick = (a, b) => if (a.v >= b.v) a else b)
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()

    var q = mkQuery()
    try {
      in.addData(Ev("a", t("2024-01-01 00:00:01"), 3), Ev("a", t("2024-01-01 00:00:02"), 8))
      q.processAllAvailable()
      q.stop() // crash mid-linger: survivor (a,8) lives only in the state store
      q = mkQuery()
      in.addData(Ev("z", t("2024-01-01 00:02:00"), 0)) // advance watermark
      q.processAllAvailable()
      val rows = spark.read.parquet(outDir).as[Ev].collect().map(e => e.key -> e.v).toMap
      assert(rows.get("a").contains(8L),
        s"survivor lost across restart: $rows (reference's in-memory window map would lose it)")
    } finally q.stop()
  }
}
