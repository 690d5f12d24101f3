package graft

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamOps

case class Ev(key: String, ts: Timestamp, v: Long)

object StreamingSpec {
  // static so executor-side closures (which deserialize into copies) still
  // observe the same JVM-wide collector in local mode
  val flushSizes = new ConcurrentLinkedQueue[Integer]()
}

class StreamingSpec extends SparkTestBase {

  private def mkStream() = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    MemoryStream[Ev]
  }

  private def t(s: String): Timestamp = Timestamp.valueOf(s)

  test("streaming compaction keeps one winner per key per linger window") {
    import spark.implicits._
    val in = mkStream()
    val out = StreamOps.compactLatest(
      in.toDF(),
      keyCols = Seq(col("key")),
      tsCol = col("ts"),
      lingerWindow = "10 seconds",
      watermarkDelay = "0 seconds",
      payload = Seq(col("v"), col("ts")),
      rankCols = Seq(col("ts"), col("v")))
    val q = out.writeStream.format("memory").queryName("compact_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        Ev("a", t("2024-01-01 00:00:01"), 1),
        Ev("a", t("2024-01-01 00:00:03"), 2), // same window: supersedes v=1
        Ev("b", t("2024-01-01 00:00:05"), 7))
      q.processAllAvailable()
      // advance watermark past the first window
      in.addData(Ev("a", t("2024-01-01 00:01:00"), 9))
      q.processAllAvailable()
      val rows = spark.table("compact_out")
        .select(col("key"), col("v")).as[(String, Long)].collect().toSet
      assert(rows.contains(("a", 2L)) && rows.contains(("b", 7L)))
      assert(!rows.contains(("a", 1L)), "compacted-away record must not be emitted")
    } finally q.stop()
  }

  test("compactLatest resolves expression keys and an expression tsCol") {
    import spark.implicits._
    // batch DF through the same code path: withWatermark is a no-op in
    // batch, so this pins analysis-time resolvability of expression columns
    val df = Seq(
      Ev("a", t("2024-01-01 00:00:01"), 1),
      Ev("a", t("2024-01-01 00:00:03"), 2),
      Ev("B", t("2024-01-01 00:00:05"), 7)).toDF()
    val out = StreamOps.compactLatest(
      df,
      keyCols = Seq(upper(col("key")).as("ukey")),
      tsCol = date_trunc("second", col("ts")).as("tsec"),
      lingerWindow = "10 seconds",
      watermarkDelay = "0 seconds",
      payload = Seq(col("v")),
      rankCols = Seq(col("ts"), col("v")))
    val rows = out.select(col("ukey"), col("v")).as[(String, Long)].collect().toSet
    assert(rows == Set(("A", 2L), ("B", 7L)))
  }

  test("streaming windowed rates count per key per window (A3)") {
    import spark.implicits._
    val in = mkStream()
    val rates = StreamOps.windowedRates(in.toDF(), col("key"), col("ts"), "10 seconds", "0 seconds")
    val q = rates.writeStream.format("memory").queryName("rates_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        Ev("hot", t("2024-01-01 00:00:01"), 1),
        Ev("hot", t("2024-01-01 00:00:02"), 1),
        Ev("hot", t("2024-01-01 00:00:03"), 1),
        Ev("cold", t("2024-01-01 00:00:04"), 1))
      q.processAllAvailable()
      in.addData(Ev("x", t("2024-01-01 00:05:00"), 1)) // close window
      q.processAllAvailable()
      val m = spark.table("rates_out").select(col("key"), col("n"))
        .as[(String, Long)].collect().toMap
      assert(m("hot") == 3L && m("cold") == 1L)
    } finally q.stop()
  }

  test("foreachBatch quota routing shapes only bursting keys (A4/S5)") {
    import spark.implicits._
    val in = mkStream()
    val shapedRows = new ConcurrentLinkedQueue[String]()
    val okRows = new ConcurrentLinkedQueue[String]()
    val q = in.toDF().writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
      val (ok, shaped) = StreamOps.routeByQuota(batch, col("key"), col("ts"), "1 minute", quota = 3)
      shaped.select("key").collect().foreach(r => shapedRows.add(r.getString(0)))
      ok.select("key").collect().foreach(r => okRows.add(r.getString(0)))
      ()
    }.start()
    try {
      in.addData(
        Ev("hot", t("2024-01-01 00:00:01"), 1),
        Ev("hot", t("2024-01-01 00:00:02"), 1),
        Ev("hot", t("2024-01-01 00:00:03"), 1),
        Ev("cold", t("2024-01-01 00:00:04"), 1))
      q.processAllAvailable()
      assert(shapedRows.stream().allMatch(_ == "hot"))
      assert(shapedRows.size == 3)
      assert(okRows.stream().allMatch(_ == "cold"))
    } finally q.stop()
  }

  test("streaming dedup drops duplicate keys within the watermark horizon") {
    import spark.implicits._
    val in = mkStream()
    val out = StreamOps.dedupeStream(in.toDF(), Seq("key"), "ts", "1 minute")
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        Ev("a", t("2024-01-01 00:00:01"), 1),
        Ev("a", t("2024-01-01 00:00:05"), 2), // duplicate key: dropped
        Ev("b", t("2024-01-01 00:00:03"), 3))
      q.processAllAvailable()
      in.addData(Ev("a", t("2024-01-01 00:00:10"), 4)) // still within horizon
      q.processAllAvailable()
      val rows = spark.table("dedup_out").select(col("key"), col("v"))
        .as[(String, Long)].collect().toSet
      assert(rows == Set(("a", 1L), ("b", 3L)))
    } finally q.stop()
  }

  test("stateful streaming runs on the RocksDB state store (100 TB state posture)") {
    import spark.implicits._
    import graft.streaming.StateStores
    val prev = StateStores.useRocksDb(spark)
    val ckpt = tempDir("graft-rocksdb-ckpt")
    try {
      val in = mkStream()
      val out = StreamOps.dedupeStream(in.toDF(), Seq("key"), "ts", "1 minute")
      val q = out.writeStream.format("memory").queryName("rocksdb_dedup_out")
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).start()
      try {
        in.addData(
          Ev("a", t("2024-01-01 00:00:01"), 1),
          Ev("a", t("2024-01-01 00:00:05"), 2),
          Ev("b", t("2024-01-01 00:00:03"), 3))
        q.processAllAvailable()
        val rows = spark.table("rocksdb_dedup_out").select(col("key"), col("v"))
          .as[(String, Long)].collect().toSet
        assert(rows == Set(("a", 1L), ("b", 3L)))
        // the checkpoint must carry RocksDB artifacts (zip snapshots /
        // changelogs), not the HDFS provider's .delta files — proof the
        // provider actually served the query
        val stateFiles = {
          val dir = java.nio.file.Paths.get(ckpt, "state")
          val s = java.nio.file.Files.walk(dir)
          try s.iterator().asScala.map(_.getFileName.toString).toList
          finally s.close()
        }
        assert(!stateFiles.exists(_.endsWith(".delta")),
          s"HDFS-provider delta files present: $stateFiles")
        assert(stateFiles.exists(f => f.endsWith(".zip") || f.endsWith(".changelog")),
          s"no RocksDB snapshot/changelog artifacts in checkpoint: $stateFiles")
      } finally q.stop()
    } finally StateStores.restoreProvider(spark, prev)
  }

  test("streaming sessionization closes sessions on gap > threshold") {
    import spark.implicits._
    val in = mkStream()
    val out = StreamOps.sessionized(in.toDF(), col("key"), col("ts"), "30 seconds", "0 seconds")
    val q = out.writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        Ev("u1", t("2024-01-01 00:00:01"), 1),
        Ev("u1", t("2024-01-01 00:00:10"), 2), // same session (gap 9s)
        Ev("u1", t("2024-01-01 00:01:30"), 3)) // new session (gap 80s)
      q.processAllAvailable()
      in.addData(Ev("zz", t("2024-01-01 00:10:00"), 0)) // advance watermark
      q.processAllAvailable()
      val sess = spark.table("sess_out").select(col("key"), col("n_events"))
        .as[(String, Long)].collect().filter(_._1 == "u1").map(_._2).sorted.toSeq
      assert(sess == Seq(1L, 2L), s"expected sessions of 2 and 1 events, got $sess")
    } finally q.stop()
  }

  test("quota routing shapes a bursting NULL-key group (null-safe join)") {
    import spark.implicits._
    val rows = Seq(
      (Option.empty[String], t("2024-01-01 00:00:01")),
      (Option.empty[String], t("2024-01-01 00:00:02")),
      (Option.empty[String], t("2024-01-01 00:00:03")),
      (Some("cold"), t("2024-01-01 00:00:04"))).toDF("key", "ts")
    val (ok, shaped) = StreamOps.routeByQuota(rows, col("key"), col("ts"), "1 minute", quota = 3)
    assert(shaped.count() == 3, "null-key burst must be shaped")
    assert(shaped.filter(col("key").isNull).count() == 3)
    assert(ok.count() == 1)
  }

  test("late data beyond the watermark is dropped from windowed compaction (documented Spark-side semantic)") {
    import spark.implicits._
    // The reference never drops late tasks (scheduled_time only delays —
    // SURVEY.md §2.10); Spark's windowed aggregation evicts state at the
    // watermark, so records later than the delay are dropped. Pipelines that
    // need reference-identical behavior must size watermarkDelay to the
    // maximum expected lateness; this test pins the behavior so the tradeoff
    // stays visible.
    val in = mkStream()
    val out = StreamOps.compactLatest(
      in.toDF(), Seq(col("key")), col("ts"), "10 seconds", "0 seconds",
      payload = Seq(col("v"), col("ts")), rankCols = Seq(col("ts"), col("v")))
    val q = out.writeStream.format("memory").queryName("late_out")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(Ev("a", t("2024-01-01 00:00:01"), 1))
      q.processAllAvailable()
      in.addData(Ev("b", t("2024-01-01 00:10:00"), 2)) // watermark jumps to 00:10
      q.processAllAvailable()
      in.addData(Ev("late", t("2024-01-01 00:00:02"), 3)) // far behind watermark
      in.addData(Ev("c", t("2024-01-01 00:20:00"), 4))    // close remaining windows
      q.processAllAvailable()
      val keys = spark.table("late_out").select(col("key")).as[String].collect().toSet
      assert(keys.contains("a") && keys.contains("b"))
      assert(!keys.contains("late"), "late row behind the watermark must be dropped, not emitted")
    } finally q.stop()
  }

  test("streaming per-source cap converges to the batch cap, re-delivery included") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // deterministic scored docs across 3 sources, delivered in 3 chunks with
    // one chunk re-delivered (at-least-once ingestion)
    val docs = (1L to 60L).map(i => (s"src${i % 3}", i, ((i * 37) % 100).toDouble))
    val in = MemoryStream[(String, Long, Double)]
    val out = graft.streaming.StreamingCaps.perSourceCapStream(
      in.toDF().toDF("source", "id", "s"),
      col("id"), col("source"), col("s"), cap = 5)
    val q = out.writeStream.format("memory").queryName("cap_out")
      .outputMode(OutputMode.Update).start()
    try {
      val chunks = docs.grouped(20).toSeq
      in.addData(chunks(0)); q.processAllAvailable()
      in.addData(chunks(1)); q.processAllAvailable()
      in.addData(chunks(1)); q.processAllAvailable() // re-delivery: same chunk again
      in.addData(chunks(2)); q.processAllAvailable()
      // last emission per source = final admitted set
      val finalSets = spark.table("cap_out")
        .groupBy(col("source"))
        .agg(last(col("admitted")).as("admitted"))
        .as[(String, Seq[Long])].collect().toMap
      val batch = graft.pipeline.Curation.perSourceCap(
          docs.toDF("source", "id", "s"), col("id"), col("source"), col("s"), cap = 5)
        .select(col("source"), col("doc_id"))
        .as[(String, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      assert(finalSets.keySet == batch.keySet)
      batch.foreach { case (src, ids) =>
        assert(finalSets(src).toSet == ids,
          s"$src: streaming admitted ${finalSets(src).toSet}, batch keeps $ids")
      }
    } finally q.stop()
  }

  test("streaming per-source cap: a re-delivery with a CHANGED score keeps one slot") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, Double)]
    val out = graft.streaming.StreamingCaps.perSourceCapStream(
      in.toDF().toDF("source", "id", "s"),
      col("id"), col("source"), col("s"), cap = 3)
    val q = out.writeStream.format("memory").queryName("cap_rescore_out")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(Seq(("s", 1L, 10.0), ("s", 2L, 20.0), ("s", 3L, 30.0), ("s", 4L, 5.0)))
      q.processAllAvailable()
      // doc 1 re-delivered with a different score: it must still hold ONE
      // slot (deduped by id, max score wins), so doc 4 — the cap-3 runner-up
      // — is NOT evicted by a phantom duplicate of doc 1
      in.addData(Seq(("s", 1L, 40.0)))
      q.processAllAvailable()
      val admitted = spark.table("cap_rescore_out")
        .groupBy(col("source")).agg(last(col("admitted")).as("admitted"))
        .as[(String, Seq[Long])].collect().head._2.toSet
      assert(admitted == Set(1L, 2L, 3L),
        s"expected doc 1 to occupy one slot at its max score, got $admitted")
    } finally q.stop()
  }

  test("flushInBatches caps delivery size (A2)") {
    import spark.implicits._
    StreamingSpec.flushSizes.clear()
    val df = (1 to 103).map(i => Ev(s"k$i", t("2024-01-01 00:00:01"), i.toLong))
      .toDF().repartition(2)
    StreamOps.flushInBatches(df, capacity = 10)(g => StreamingSpec.flushSizes.add(g.size))
    val all = StreamingSpec.flushSizes.stream().mapToInt(_.toInt).toArray
    assert(all.forall(_ <= 10))
    assert(all.sum == 103)
  }

  test("flushInBatches rejects a non-positive capacity on the driver") {
    import spark.implicits._
    val df = Seq(1L).toDF("v")
    intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.flushInBatches(df, capacity = 0)(_ => ())
    }
  }

  test("windowedRates and sessionized accept an EXPRESSION event-time column") {
    import spark.implicits._
    // ts arrives as a string — the production shape after a kafka decode
    val df = Seq(("k1", "2026-01-01 00:00:01"), ("k1", "2026-01-01 00:00:02"),
      ("k2", "2026-01-01 00:01:30")).toDF("key", "ts_str")
    val rates = graft.streaming.StreamOps.windowedRates(
      df, col("key"), to_timestamp(col("ts_str")), "1 minute", "10 seconds")
      .select(col("key"), col("n")).as[(String, Long)].collect().toMap
    assert(rates == Map("k1" -> 2L, "k2" -> 1L))
    val sess = graft.streaming.StreamOps.sessionized(
      df, col("key"), to_timestamp(col("ts_str")), "30 seconds", "10 seconds")
      .select(col("key"), col("n_events")).as[(String, Long)].collect().toMap
    assert(sess == Map("k1" -> 2L, "k2" -> 1L))
  }

  test("admitChangedAgainstArtifact admits a known doc whose text became null (null-safe change test)") {
    import spark.implicits._
    val prev = Seq((1L, "abc123"), (2L, "def456")).toDF("doc_id", "ch")
    val cur = Seq(
      (1L, null: String, java.sql.Timestamp.valueOf("2026-01-01 00:00:01")), // known -> null text: CHANGED
      (2L, null: String, java.sql.Timestamp.valueOf("2026-01-01 00:00:02")), // same
      (3L, "brand new", java.sql.Timestamp.valueOf("2026-01-01 00:00:03"))   // new doc
    ).toDF("doc_id", "text", "ts")
    // the ch values above are not the md5 of any text, so both known docs changed
    val admitted = graft.streaming.StreamOps.admitChangedAgainstArtifact(
      cur, col("doc_id"), col("text"), "ts", "10 seconds", prev)
      .select("id").as[Long].collect().toSet
    assert(admitted == Set(1L, 2L, 3L),
      s"a known doc whose content became unhashable IS a change: $admitted")
  }
}
