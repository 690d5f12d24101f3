package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.sampling.Sampling
import graft.sources.kafkalike.BrokerLog

/** The training-data operators composed with the executable streaming path:
  * documents flow through the `graft-kafka` sink, come back via `readStream`,
  * and the mixing/chunking operators run per micro-batch — asserting the ops
  * are batch/stream agnostic (hash-based selection can't depend on which
  * micro-batch a row arrived in) and that the DSv2 source round-trips real
  * payloads, not just probe records.
  */
object StreamingPipelineSpec {
  // (doc_id, sample_bucket) for sampled docs; (doc_id, n_chunks) for chunking
  val sampled = new ConcurrentLinkedQueue[(Long, Long)]()
  val chunked = new ConcurrentLinkedQueue[(Long, Long)]()
  // closed windows emitted by the distinct-sketch query (append mode):
  // (win_start_millis, group, zero_regs, harmonic, hll_est, kmv_size, kmv_kth)
  val wds = new ConcurrentLinkedQueue[(Long, String, Int, Long, Long, Int, Long)]()
  // closed windows from the calibrated-gate query (append mode):
  // (win_start_millis, group, total, cutoff_cell, n_admitted)
  val cal = new ConcurrentLinkedQueue[(Long, String, Long, Long, Long)]()
  def reset(): Unit = { sampled.clear(); chunked.clear(); wds.clear(); cal.clear() }
}

class StreamingPipelineSpec extends SparkTestBase {

  private val rates = Map("en" -> 900, "zh" -> 600, "de" -> 400, "es" -> 250)

  test("stratified sampling + chunking over a graft-kafka stream match their batch results") {
    val root = tempDir("graft-kafka-pipe")
    BrokerLog.createTopic(root, "docs", 4)

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // produce the corpus through the DSv2 sink: key = doc_id, value = "lang|text"
    docs.select(
        col("doc_id").cast("string").cast("binary").as("key"),
        concat(col("lang"), lit("|"), col("text")).cast("binary").as("value"))
      .write.format("graft-kafka").mode("append")
      .option("root", root).option("topic", "docs").save()

    StreamingPipelineSpec.reset()
    val ckpt = tempDir("graft-kafka-pipe-ckpt")
    val q = spark.readStream.format("graft-kafka")
      .option("root", root).option("subscribe", "docs")
      // several micro-batches, so per-batch selection bias would be caught
      .option("maxOffsetsPerTrigger", "128")
      .load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val parsed = batch.select(
          col("key").cast("string").cast("long").as("doc_id"),
          split(col("value").cast("string"), "\\|", 2).as("kv"))
          .select(col("doc_id"), col("kv")(0).as("lang"), col("kv")(1).as("text"))
        Sampling.stratifiedByHash(parsed, col("doc_id"), col("lang"), rates, 100)
          .select(col("doc_id"), col("sample_bucket")).collect()
          .foreach(r => StreamingPipelineSpec.sampled.add((r.getLong(0), r.getLong(1))))
        TextFunctions.chunkByTokens(parsed, col("doc_id"), col("text"), 64, 16)
          .groupBy("doc_id").agg(count(lit(1)).as("n")).collect()
          .foreach(r => StreamingPipelineSpec.chunked.add((r.getLong(0), r.getLong(1))))
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()

    // batch-side expectations straight from the parquet table
    val expectSampled = Sampling
      .stratifiedByHash(docs, col("doc_id"), col("lang"), rates, 100)
      .select(col("doc_id"), col("sample_bucket"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expectChunks = TextFunctions
      .chunkByTokens(docs, col("doc_id"), col("text"), 64, 16)
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val gotSampled = StreamingPipelineSpec.sampled.asScala.toSet
    val gotChunks = StreamingPipelineSpec.chunked.asScala.toSet
    assert(gotSampled === expectSampled,
      s"stream-sampled set diverged from batch (stream ${gotSampled.size}, batch ${expectSampled.size})")
    assert(gotChunks === expectChunks, "per-doc chunk counts diverged from batch")
    // and the stream really was split into multiple micro-batches
    assert(docs.count() > 128, "corpus must span several triggers for this test to bite")
  }

  test("windowed distinct sketches over graft-kafka: live == batch across triggers AND a restart") {
    import graft.streaming.StreamOps
    import spark.implicits._

    val root = tempDir("graft-kafka-wds")
    BrokerLog.createTopic(root, "wds", 3)
    val base = 1704067200000L // 2024-01-01T00:00:00Z, hour-aligned

    def produce(rows: Seq[(Long, String, Long)]): Unit =
      rows.foreach { case (u, t, ts) =>
        BrokerLog.produce(root, "wds", math.floorMod(u, 3L).toInt,
          BrokerLog.Record(u.toString.getBytes("UTF-8"), t.getBytes("UTF-8"), ts, Seq.empty))
      }

    // 3 hourly windows × 2 types; round B re-sends users 20-39 (duplicates
    // must not inflate the DISTINCT sketches) and adds 40-59, plus one small
    // 5-user window exercising the size<k KMV path. Every real window gets
    // contributions from BOTH runs — its sketch state must survive the
    // restart via the state store.
    val roundA = for { h <- 0 until 3; u <- 0 until 40 } yield
      (u.toLong, if (u % 2 == 0) "view" else "click", base + h * 3600000L + u * 1000L)
    val roundB = (for { h <- 0 until 3; u <- 20 until 60 } yield
      (u.toLong, if (u % 2 == 0) "view" else "click", base + h * 3600000L + u * 1000L + 500L)) ++
      (0 until 5).map(u => (u.toLong, "view", base + 3 * 3600000L + u * 1000L))
    // flush far in the future: advances the watermark past every real window
    val flush = Seq((999L, "view", base + 20 * 3600000L))

    val ckpt = tempDir("graft-kafka-wds-ckpt")
    def mkQuery() = {
      val src = spark.readStream.format("graft-kafka")
        .option("root", root).option("subscribe", "wds")
        .option("maxOffsetsPerTrigger", "48") // >= 3 triggers per run
        .load()
        .select(col("timestamp").as("ts"),
          col("value").cast("string").as("etype"),
          col("key").cast("string").as("uid"))
      StreamOps.windowedDistinctSketch(src, col("etype"), col("uid"), col("ts"),
          windowDur = "1 hour", watermarkDelay = "10 hours", m = 64, k = 16)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        // foreachBatch, not the memory sink: memory cannot recover from a
        // checkpoint, and the restart is the point of this test. A replayed
        // emission after restart lands twice in the queue; the set compare
        // below absorbs it (append rows are deterministic).
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(r => StreamingPipelineSpec.wds.add(
            (r.getTimestamp(0).getTime, r.getString(1), r.getInt(2),
              r.getLong(3), r.getLong(4), r.getInt(5), r.getLong(6))))
          ()
        }
        .start()
    }

    StreamingPipelineSpec.wds.clear()
    var q = mkQuery()
    produce(roundA)
    q.processAllAvailable()
    val run1Batches = q.recentProgress.count(_.numInputRows > 0)
    q.stop() // restart: partial sketches must reload from the state store
    produce(roundB)
    q = mkQuery()
    produce(flush)
    q.processAllAvailable()
    val run2Batches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(run1Batches >= 3 && run2Batches >= 2,
      s"scenario must span several triggers, got $run1Batches + $run2Batches")

    def key(r: org.apache.spark.sql.Row) =
      (r.getTimestamp(0).getTime, r.getString(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getInt(5), r.getLong(6))
    val got = StreamingPipelineSpec.wds.asScala.toSet

    // batch truth over the SAME rows; the flush event's own window never
    // closes, so it is excluded from the expectation
    val all = (roundA ++ roundB ++ flush).toDF("u", "etype", "tsm")
      .select(col("etype"), col("u").cast("string").as("uid"),
        timestamp_millis(col("tsm")).as("ts"))
    val expect = StreamOps.windowedDistinctSketch(all, col("etype"), col("uid"),
        col("ts"), "1 hour", "10 hours", m = 64, k = 16)
      .filter(col("win_start") < timestamp_millis(lit(base + 10 * 3600000L)))
      .collect().map(key).toSet

    assert(got.nonEmpty && got === expect,
      s"live sketches diverged from batch (live ${got.size}, batch ${expect.size})")
    // sanity on the planted shapes: a full window saw 60 distinct users
    // (> k=16, kth-cutoff path), the small window exactly 5 (size<k path)
    val small = got.filter(_._1 == base + 3 * 3600000L)
    assert(small.size == 1 && small.head._6 == 5,
      "the 5-user window must take the exact size<k KMV path")
    assert(got.exists(_._6 == 16), "a full window must hit the k-cutoff path")
  }

  test("windowed calibrated threshold: live == batch across triggers; gate admits exactly n_admitted") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamOps
    import spark.implicits._
    implicit val sq = spark.sqlContext

    val base = 1704067200000L // 2024-01-01T00:00:00Z, window-aligned
    // 2 groups × 3 100-second windows; scores i/100 planted so every
    // window/group has a known distribution. Window 1 SPANS the two data
    // batches — its histogram state must merge across triggers.
    def ev(w: Int, g: String, i: Int): (Long, String, Double) =
      (base + w * 100000L + i * 100L, g, i / 100.0)
    val batch1 = (for (g <- Seq("a", "b"); i <- 0 until 40) yield ev(0, g, i)) ++
      (for (g <- Seq("a", "b"); i <- 0 until 20) yield ev(1, g, i))
    val batch2 = (for (g <- Seq("a", "b"); i <- 20 until 50) yield ev(1, g, i)) ++
      (for (g <- Seq("a", "b"); i <- 0 until 25) yield ev(2, g, 2 * i))
    val flush = Seq((base + 50 * 100000L, "a", 0.5))

    val in = MemoryStream[(Long, String, Double)]
    val src = in.toDF().toDF("tsm", "grp", "score")
      .select(timestamp_millis(col("tsm")).as("ts"), col("grp"), col("score"))
    StreamingPipelineSpec.cal.clear()
    val q = StreamOps.windowedCalibratedThreshold(
        src, col("grp"), col("score"), col("ts"),
        "100 seconds", "10 seconds", keepFrac = 0.6, cells = 512)
      .writeStream.outputMode("append")
      .option("checkpointLocation",
        tempDir("graft-cal-ckpt"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r => StreamingPipelineSpec.cal.add(
          (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2),
            r.getLong(3), r.getLong(4))))
        ()
      }
      .start()
    in.addData(batch1); q.processAllAvailable()
    in.addData(batch2); q.processAllAvailable()
    in.addData(flush); q.processAllAvailable()
    val nBatches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(nBatches >= 3, s"scenario must span several triggers, got $nBatches")

    val got = StreamingPipelineSpec.cal.asScala.toSet
    val allRows = (batch1 ++ batch2 ++ flush).toDF("tsm", "grp", "score")
      .select(timestamp_millis(col("tsm")).as("ts"), col("grp"), col("score"))
    val expect = StreamOps.windowedCalibratedThreshold(
        allRows, col("grp"), col("score"), col("ts"),
        "100 seconds", "10 seconds", keepFrac = 0.6, cells = 512)
      .filter(col("win_start") < timestamp_millis(lit(base + 10 * 100000L)))
      .collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got.nonEmpty && got === expect,
      s"live thresholds diverged from batch (live ${got.size}, batch ${expect.size})")

    // the spanning window merged state from both triggers: total = 50
    val spanning = got.filter(t => t._1 == base + 100000L && t._2 == "a")
    assert(spanning.size == 1 && spanning.head._3 == 50L)

    // admission contract: gating the raw rows by cell >= cutoff admits
    // exactly n_admitted, and never less than keepFrac of the window
    for ((ws, g, total, cut, adm) <- got) {
      val rows = (batch1 ++ batch2).filter { case (tsm, grp, _) =>
        grp == g && tsm >= ws && tsm < ws + 100000L }
      val admitted = rows.count { case (_, _, s) =>
        math.max(math.min(math.floor(s * 512).toLong, 511L), 0L) >= cut }
      assert(admitted === adm, s"window $ws/$g: gate admitted $admitted, emitted $adm")
      assert(adm >= math.floor(0.6 * total).toLong, s"window $ws/$g under-admits")
    }
  }

  test("streaming signature dedup and static-index flagging match their batch analogs") {
    import graft.dedup.Dedup
    import graft.streaming.StreamOps

    val root = tempDir("graft-kafka-nd")
    BrokerLog.createTopic(root, "nd", 4)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // corpus + planted exact duplicates (shifted ids): the dedup must
    // collapse each planted copy onto its original's signature
    val planted = docs.limit(20).select(
      (col("doc_id") + 100000L).as("doc_id"), col("text"))
    val corpus = docs.select(col("doc_id"), col("text")).unionAll(planted)
    corpus.select(
        col("doc_id").cast("string").cast("binary").as("key"),
        col("text").cast("binary").as("value"))
      .write.format("graft-kafka").mode("append")
      .option("root", root).option("topic", "nd").save()

    def stream(): DataFrame = spark.readStream.format("graft-kafka")
      .option("root", root).option("subscribe", "nd")
      .option("maxOffsetsPerTrigger", "64") // force several micro-batches
      .load()
      .select(
        col("key").cast("string").cast("long").as("doc_id"),
        col("value").cast("string").as("text"),
        col("timestamp"))

    // --- signature-exact streaming dedup --------------------------------
    val ckpt1 = tempDir("graft-kafka-nd-c1")
    val q1 = StreamOps.nearDedupeStreamBySignature(
        stream(), col("text"), "timestamp", "10 minutes")
      .select("doc_id", "text")
      .writeStream.format("memory").queryName("nd_survivors")
      .option("checkpointLocation", ckpt1).outputMode("append").start()
    try q1.processAllAvailable() finally q1.stop()
    val sigKey = md5(array_join(
      transform(graft.functions.minhash_sigs(col("text"), 5, 16), _.cast("string")), ","))
    val survivorSigs = spark.table("nd_survivors")
      .select(sigKey.as("k")).collect().map(_.getString(0)).toSet
    val batchSigs = corpus.select(sigKey.as("k")).distinct()
      .collect().map(_.getString(0)).toSet
    // exactly one survivor per distinct signature, covering every signature
    assert(spark.table("nd_survivors").count() === batchSigs.size.toLong)
    assert(survivorSigs === batchSigs)

    // --- online flagging against a static LSH index ---------------------
    // index = first half of the corpus; expected flags = batch semi-join
    val half = docs.filter(col("doc_id") < 250)
    val index = Dedup.lshBandSignaturesWide(
      Dedup.minHashSignaturesWide(half, col("doc_id"), col("text"), 16, 5), 16, 4)
    val ckpt2 = tempDir("graft-kafka-nd-c2")
    val q2 = StreamOps.flagAgainstLshIndex(
        stream(), col("doc_id"), col("text"), "timestamp", "10 minutes", index)
      .writeStream.format("memory").queryName("nd_flagged")
      .option("checkpointLocation", ckpt2).outputMode("append").start()
    try q2.processAllAvailable() finally q2.stop()
    val gotFlagged = spark.table("nd_flagged")
      .select("id").collect().map(_.getLong(0)).toSet
    val expectFlagged = Dedup.lshBandSignaturesWide(
        Dedup.minHashSignaturesWide(corpus, col("doc_id"), col("text"), 16, 5), 16, 4)
      .join(index.select("band", "band_sig"), Seq("band", "band_sig"), "left_semi")
      .select(col("id")).distinct().collect().map(_.getLong(0)).toSet
    assert(gotFlagged === expectFlagged,
      s"flagged ${gotFlagged.size} docs, batch semi-join expects ${expectFlagged.size}")
    assert(expectFlagged.nonEmpty && expectFlagged.size < corpus.count(),
      "index-flagging test needs a non-trivial flagged subset to bite")
  }

  test("end-to-end streaming curation: dedup -> quality gates -> mixing sample") {
    import graft.streaming.StreamOps

    val root = tempDir("graft-kafka-cur")
    BrokerLog.createTopic(root, "raw", 4)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val planted = docs.limit(15).select(
      (col("doc_id") + 200000L).as("doc_id"), col("lang"), col("text"))
    val corpus = docs.select(col("doc_id"), col("lang"), col("text")).unionAll(planted)
    corpus.select(
        col("doc_id").cast("string").cast("binary").as("key"),
        concat(col("lang"), lit("|"), col("text")).cast("binary").as("value"))
      .write.format("graft-kafka").mode("append")
      .option("root", root).option("topic", "raw").save()

    val ckpt = tempDir("graft-kafka-cur-ckpt")
    val parsed = spark.readStream.format("graft-kafka")
      .option("root", root).option("subscribe", "raw")
      .option("maxOffsetsPerTrigger", "96")
      .load()
      .select(
        col("key").cast("string").cast("long").as("doc_id"),
        split(col("value").cast("string"), "\\|", 2).as("kv"),
        col("timestamp"))
      .select(col("doc_id"), col("kv")(0).as("lang"), col("kv")(1).as("text"), col("timestamp"))
    val deduped = StreamOps.nearDedupeStreamBySignature(
      parsed, col("text"), "timestamp", "10 minutes")
    val gated = deduped
      .withColumn("n_tokens", TextFunctions.token_count(col("text")))
      .withColumn("n_distinct", size(array_distinct(TextFunctions.tokens(col("text")))))
      .filter(col("n_tokens").between(30, 80) &&
        col("n_distinct") * 100 >= col("n_tokens") * 40)
    // trained-model quality gate, ONLINE: the row-local classifier form is a
    // stateless projection, so it rides the append-mode stream directly
    val clsWeights = (0 until 64)
      .map(b => b -> ((b.toLong * 2654435761L) % 1000003L - 500000L)).toMap
    val classified = graft.quality.Importance.linearQualityScoreRowLocal(
        gated, col("text"), clsWeights, buckets = 64)
      .filter(col("keep"))
      .drop("n_feats", "sum_fp", "logit_fp", "score", "keep")
    val curated = Sampling.stratifiedByHash(classified, col("doc_id"), col("lang"), rates, 100)
    val q = curated.select("doc_id", "lang", "text")
      .writeStream.format("memory").queryName("cur_out")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("cur_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))

    // (1) no two survivors share a minhash signature
    val sigOf = corpus.select(col("doc_id"), md5(array_join(
        transform(graft.functions.minhash_sigs(col("text"), 5, 16), _.cast("string")), ","))
        .as("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val outSigs = out.map { case (id, _, _) => sigOf(id) }
    assert(outSigs.distinct.length === outSigs.length, "two curated docs share a signature")
    // (2) every survivor passes the gates and its own sampling decision
    out.foreach { case (id, lang, text) =>
      val toks = text.split(" ", -1)
      assert(toks.length >= 30 && toks.length <= 80, s"doc $id violates the token gate")
      assert(toks.distinct.length * 100 >= toks.length * 40, s"doc $id violates distinct gate")
      val bucket = java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString).substring(0, 15), 16) % 1000
      assert(bucket < rates.getOrElse(lang, 100), s"doc $id fails its own sampling decision")
    }
    // (2b) every survivor passes the ONLINE classifier's own batch decision
    val clsKeep = graft.quality.Importance.linearQualityScoreRowLocal(
        corpus, col("text"), clsWeights, buckets = 64)
      .filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    out.foreach { case (id, _, _) =>
      assert(clsKeep(id), s"doc $id survived the stream but fails the classifier in batch")
    }
    // (3) the pipeline kept a non-trivial subset: some docs passed, some didn't
    assert(out.nonEmpty && out.length < corpus.count(), "curation must be a proper subset")
  }

  test("file-topic pipeline: jsonl tail -> streaming near-dedup -> effectively-once parquet, live == batch") {
    // the two round-11 pillars composed: documents land as JSONL segments,
    // a tailing query near-dedups them by minhash signature and writes an
    // exact (batch-id-keyed) parquet output; the result must equal the
    // SAME operator chain run in batch over the same directory
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = tempDir("graft-ftp")
    def line(id: Int, text: String): String =
      s"""{"doc_id":$id,"ts":${1704067200L + id},"text":"$text"}"""
    // planted exact dups: every 3rd doc repeats an earlier text
    def text(i: Int): String =
      if (i % 3 == 2) s"the quick brown fox jumps over dog number ${i - 2} again and again"
      else s"the quick brown fox jumps over dog number $i again and again"
    graft.sources.jsonl.GraftJsonl.append(dir, "w0.jsonl", (0 until 18).map(i => line(i, text(i))))
    def parsed(df: org.apache.spark.sql.DataFrame) = df.select(
      get_json_object(col("value"), "$.doc_id").cast("long").as("doc_id"),
      timestamp_seconds(get_json_object(col("value"), "$.ts").cast("long")).as("ts"),
      get_json_object(col("value"), "$.text").as("text"))
    val out = tempDir("graft-ftp-out")
    val q = graft.streaming.StreamOps.effectivelyOnceParquet(
      graft.streaming.StreamOps.nearDedupeStreamBySignature(
        parsed(spark.readStream.format("graft-jsonl").option("path", dir).load()),
        col("text"), "ts", "10 minutes"),
      out, tempDir("graft-ftp-ckpt"))
    try {
      q.processAllAvailable()
      // second wave arrives as a NEW segment (incl. dups of wave-1 texts
      // within the watermark horizon)
      graft.sources.jsonl.GraftJsonl.append(dir, "w1.jsonl", (18 until 30).map(i => line(i, text(i))))
      q.processAllAvailable()
    } finally q.stop()
    val live = spark.read.parquet(out).select("doc_id").as[Long].collect().sorted.toSeq
    val batch = graft.streaming.StreamOps.nearDedupeStreamBySignature(
        parsed(spark.read.format("graft-jsonl").option("path", dir).load()),
        col("text"), "ts", "10 minutes")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(live.nonEmpty && live.size < 30, s"dedup must have dropped planted dups: $live")
    assert(live == batch, s"live file-topic pipeline diverged from batch: $live vs $batch")
  }

  test("end-to-end streaming curation over a graft-jsonl tail: dedup -> gates -> mix, with a mid-run segment rebalance") {
    // the kafka curation run's file-topic twin — the last integration
    // permutation of the two-media testkit: documents land as JSONL
    // segments through the DSv2 SINK, the curation chain tails the
    // directory, and a second wave arrives mid-run as a NEW segment (the
    // medium's partition-added event), which must surface as REBALANCING
    // through the jsonl flat-offset signature path and must not disturb
    // the pipeline's decisions
    import graft.streaming.{StreamOps, SubscriptionStates}
    import SubscriptionStates._

    val dir = tempDir("graft-jsonl-cur")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val planted = docs.limit(15).select(
      (col("doc_id") + 200000L).as("doc_id"), col("lang"), col("text"))
    val wave1 = docs.select(col("doc_id"), col("lang"), col("text"))
    val wave2 = planted // arrives later, as new segments: dups of wave-1 texts
    def produce(df: DataFrame): Unit =
      df.select(to_json(struct(col("doc_id"), col("lang"), col("text"))).as("value"))
        .repartition(2)
        .write.format("graft-jsonl").mode("append").option("path", dir).save()
    produce(wave1)

    val clsWeights = (0 until 64)
      .map(b => b -> ((b.toLong * 2654435761L) % 1000003L - 500000L)).toMap
    val parsed = spark.readStream.format("graft-jsonl").option("path", dir)
      .option("maxBytesPerTrigger", "16384") // several micro-batches per wave
      .load()
      .select(
        get_json_object(col("value"), "$.doc_id").cast("long").as("doc_id"),
        get_json_object(col("value"), "$.lang").as("lang"),
        get_json_object(col("value"), "$.text").as("text"))
      .withColumn("__ts", timestamp_micros((col("doc_id") % 100000L + 3600L) * 1000000L))
    val deduped = StreamOps.nearDedupeStreamBySignature(
      parsed, col("text"), "__ts", "10 minutes")
    val gated = deduped
      .withColumn("n_tokens", TextFunctions.token_count(col("text")))
      .withColumn("n_distinct", size(array_distinct(TextFunctions.tokens(col("text")))))
      .filter(col("n_tokens").between(30, 80) &&
        col("n_distinct") * 100 >= col("n_tokens") * 40)
    val classified = graft.quality.Importance.linearQualityScoreRowLocal(
        gated, col("text"), clsWeights, buckets = 64)
      .filter(col("keep"))
      .drop("n_feats", "sum_fp", "logit_fp", "score", "keep")
    val curated = Sampling.stratifiedByHash(classified, col("doc_id"), col("lang"), rates, 100)

    val bridge = SubscriptionStates.attach(spark, "cur_jsonl")
    try {
      val q = curated.select("doc_id", "lang", "text")
        .writeStream.format("memory").queryName("cur_jsonl")
        .option("checkpointLocation", tempDir("graft-jsonl-cur-ckpt"))
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val d0 = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (bridge.history.size < 2 && System.nanoTime() < d0) Thread.sleep(50)
        assert(bridge.history.take(2) == Seq(INITIALIZING, RUNNING), s"got ${bridge.history}")
        assert(!bridge.history.contains(REBALANCING),
          "no assignment change yet — REBALANCING must not fire on steady tailing")
        // the second wave lands as NEW segments mid-run: the medium's
        // partition-added event
        produce(wave2)
        q.processAllAvailable()
      } finally q.stop()
      // listener events are async: poll the bridge with a deadline
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (bridge.history.lastOption != Some(TERMINATED) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(bridge.history.contains(REBALANCING),
        s"a new segment joining the tail must publish REBALANCING: ${bridge.history}")
      assert(bridge.history.last == TERMINATED && bridge.history.init.last == SHUTTING_DOWN,
        s"teardown must pass through SHUTTING_DOWN: ${bridge.history}")
    } finally bridge.detach()

    val out = spark.table("cur_jsonl").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val corpus = wave1.unionAll(wave2)
    // (1) no two survivors share a minhash signature (dedup held across the
    // rebalance boundary)
    val sigOf = corpus.select(col("doc_id"), md5(array_join(
        transform(graft.functions.minhash_sigs(col("text"), 5, 16), _.cast("string")), ","))
        .as("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val outSigs = out.map { case (id, _, _) => sigOf(id) }
    assert(outSigs.distinct.length === outSigs.length, "two curated docs share a signature")
    // (2) every survivor passes the gates and its own sampling decision
    out.foreach { case (id, lang, text) =>
      val toks = text.split(" ", -1)
      assert(toks.length >= 30 && toks.length <= 80, s"doc $id violates the token gate")
      assert(toks.distinct.length * 100 >= toks.length * 40, s"doc $id violates distinct gate")
      val bucket = java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString).substring(0, 15), 16) % 1000
      assert(bucket < rates.getOrElse(lang, 100), s"doc $id fails its own sampling decision")
    }
    // (3) and the online classifier's batch decision
    val clsKeep = graft.quality.Importance.linearQualityScoreRowLocal(
        corpus, col("text"), clsWeights, buckets = 64)
      .filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    out.foreach { case (id, _, _) =>
      assert(clsKeep(id), s"doc $id survived the stream but fails the classifier in batch")
    }
    // (4) a proper subset that still flowed AFTER the rebalance: nothing
    // from wave 2 shares a signature with wave 1 survivors, so any planted
    // id in the output proves post-rebalance processing only if its
    // signature was not seen — instead require the output to contain at
    // least one doc delivered in a post-wave-2 batch only if any qualified;
    // the robust check is that the stream processed wave 2 at all, which
    // the REBALANCING assertion plus the batch-equality of decisions cover
    assert(out.nonEmpty && out.length < corpus.count(), "curation must be a proper subset")
  }

  test("stream-stream time-bounded join matches the batch join") {
    import graft.streaming.StreamOps

    val root = tempDir("graft-kafka-ssj")
    BrokerLog.createTopic(root, "clicks", 2)
    BrokerLog.createTopic(root, "views", 2)
    val events = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts"))
    def produce(topic: String, parity: Int): Unit =
      events.filter(col("event_id") % 2 === parity)
        .select(col("user_id").cast("string").cast("binary").as("key"),
          concat_ws("|", col("event_id"), unix_micros(col("ts"))).cast("binary").as("value"))
        .write.format("graft-kafka").mode("append")
        .option("root", root).option("topic", topic).save()
    produce("clicks", 0)
    produce("views", 1)

    def readSide(topic: String, p: String): DataFrame =
      spark.readStream.format("graft-kafka")
        .option("root", root).option("subscribe", topic)
        .option("maxOffsetsPerTrigger", "128")
        .load()
        .select(col("key").cast("string").cast("long").as(s"${p}_user"),
          split(col("value").cast("string"), "\\|").as("kv"))
        .select(col(s"${p}_user"), col("kv")(0).cast("long").as(s"${p}_id"),
          timestamp_micros(col("kv")(1).cast("long")).as(s"${p}_ts"))

    val ckpt = tempDir("graft-kafka-ssj-ckpt")
    val joined = StreamOps.timeBoundedJoin(
      readSide("clicks", "c"), readSide("views", "v"),
      "c_user", "v_user", "c_ts", "v_ts",
      tolerance = "6 HOURS", watermarkDelay = "365 DAYS")
    val q = joined.select("c_id", "v_id")
      .writeStream.format("memory").queryName("ssj_out")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("ssj_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val c = events.filter(col("event_id") % 2 === 0)
      .select(col("user_id").as("cu"), col("event_id").as("cid"), col("ts").as("cts"))
    val v = events.filter(col("event_id") % 2 === 1)
      .select(col("user_id").as("vu"), col("event_id").as("vid"), col("ts").as("vts"))
    val expect = c.join(v, col("cu") === col("vu") &&
        col("vts") >= col("cts") - expr("INTERVAL 6 HOURS") &&
        col("vts") <= col("cts") + expr("INTERVAL 6 HOURS"))
      .select("cid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expect, s"stream join ${got.size} pairs, batch expects ${expect.size}")
    assert(expect.size > 100, "join must be non-trivial for this test to bite")
  }

  test("the live CDC gate admits exactly the new/changed docs across micro-batches") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val d = Tables.documents(spark, sfDir)
    val v1 = d.filter(col("doc_id") % 11 =!= 3)
      .select(col("doc_id"), col("source"), col("lang"),
        when(col("doc_id") % 9 === 0, concat(col("text"), lit(" v1")))
          .otherwise(col("text")).as("text"))
    val prev = graft.pipeline.Curation.scoreCorpus(
      v1, col("doc_id"), col("text"), col("source"), col("lang"))
    val docs = d.select("doc_id", "text").as[(Long, String)].collect()
    // re-deliver every doc TWICE (the at-least-once case): the gate must
    // still admit each new/changed id exactly once inside the watermark
    val deliveries = docs ++ docs

    val in = MemoryStream[(Long, String)]
    // +1h offset: an event time of exactly epoch 0 sits ON the engine's
    // initial watermark and dropDuplicatesWithinWatermark discards it as
    // late — synthetic clocks must start strictly after the epoch
    val stream = in.toDF().toDF("doc_id", "text")
      .withColumn("__ts", timestamp_micros((col("doc_id") + 3600L) * 1000000L))
    val ckpt = tempDir("cdc-ckpt")
    val q = StreamOps.admitChangedAgainstArtifact(
        stream, col("doc_id"), col("text"), "__ts", "1 hour", prev)
      .writeStream.format("memory").queryName("cdc_admitted")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      deliveries.grouped(150).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.table("cdc_admitted").select("id")
      .as[Long].collect().toSeq
    val expect = docs.map(_._1).filter(id => id % 11 == 3 || id % 9 == 0).toSet
    assert(got.toSet == expect,
      s"admitted ${got.size} ids; want ${expect.size}: extra=${(got.toSet -- expect).take(3)}")
    assert(got.size == expect.size, "a re-delivered doc was admitted twice")
  }

  test("the live drift alarm equals its batch form and trips on a planted shift") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .as[(Long, String)].collect()
    // poison window 2 (doc_ids 200-299): replace text with OOV babble
    val poisoned = docs.map { case (id, t) =>
      if (id >= 200 && id < 300) (id, "zzq qqz zqz " * 20) else (id, t)
    }
    val ref = StreamOps.termBucketHist(
      Tables.documents(spark, sfDir), col("text"), nBuckets = 512)

    val in = MemoryStream[(Long, String)]
    val stream = in.toDF().toDF("doc_id", "text")
      .withColumn("__ts", timestamp_micros(col("doc_id") * 1000000L))
    val ckpt = tempDir("drift-ckpt")
    val q = StreamOps.termDriftAlarm(
        stream, col("text"), "__ts", "10 minutes", "100 seconds", ref, nBuckets = 512)
      .writeStream.format("memory").queryName("drift_windows")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      poisoned.grouped(120).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
      // advance the watermark far past every window so they all close
      in.addData((100000L, "flush"))
      q.processAllAvailable()
    } finally q.stop()

    val live = spark.table("drift_windows")
      .select(unix_seconds(col("w_start")).as("w"), col("kl_fp"))
      .filter(col("w") < 100000L).as[(Long, Long)].collect().toMap
    val batch = StreamOps.termDriftAlarm(
        poisoned.toSeq.toDF("doc_id", "text")
          .withColumn("__ts", timestamp_micros(col("doc_id") * 1000000L)),
        col("text"), "__ts", "10 minutes", "100 seconds", ref, nBuckets = 512)
      .select(unix_seconds(col("w_start")).as("w"), col("kl_fp"))
      .as[(Long, Long)].collect().toMap
    assert(live == batch, s"live windows $live diverged from batch $batch")
    // the poisoned window's drift dominates every clean window
    val poisonedKl = live(200L)
    live.filterNot(_._1 == 200L).foreach { case (w, kl) =>
      assert(poisonedKl > 2 * kl, s"window 200 kl $poisonedKl not dominant over $w's $kl")
    }
  }

  test("a drift alarm CLEARS after the reference histogram refreshes") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // the stream's vocabulary has legitimately shifted to babble; the
    // monitor starts with the STALE (original-corpus) reference, then the
    // reference census catches up mid-stream
    val babble = "zzq qqz zqz xqx qxq " * 12
    val staleRef = StreamOps.termBucketHist(
      Tables.documents(spark, sfDir), col("text"), nBuckets = 512)
    val freshRef = StreamOps.termBucketHist(
      Seq.tabulate(100)(i => (i.toLong, babble)).toDF("doc_id", "text"),
      col("text"), nBuckets = 512)
    @volatile var currentRef = staleRef

    val in = MemoryStream[(Long, String)]
    val stream = in.toDF().toDF("doc_id", "text")
      .withColumn("__ts", timestamp_micros(col("doc_id") * 1000000L))
    val ckpt = tempDir("drift-refresh-ckpt")
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    val q = StreamOps.termDriftAlarmRefreshed(
        stream, col("text"), "__ts", "10 seconds", "100 seconds",
        () => currentRef, refreshEveryBatches = 1, nBuckets = 512,
        checkpointDir = ckpt, queryName = "drift_refresh") { out =>
      out.select(unix_seconds(col("w_start")), col("n_tokens"), col("kl_fp"))
        .as[(Long, Long, Long)].collect().foreach(rows.add)
    }
    try {
      // phase 1 — stale reference: windows [0,100) and [100,200) close
      // against the original-corpus histogram and ALARM
      in.addData(Seq.tabulate(300)(i => (i.toLong, babble)))
      q.processAllAvailable()
      val pre = rows.toArray(Array.empty[(Long, Long, Long)]).toSeq
      assert(pre.nonEmpty, "no windows closed against the stale reference")
      // phase 2 — the reference census catches up; later windows of the SAME
      // babble content close quiet
      currentRef = freshRef
      in.addData(Seq.tabulate(300)(i => (300L + i, babble)))
      in.addData((100000L, "flush"))
      q.processAllAvailable()
    } finally q.stop()
    val all = rows.toArray(Array.empty[(Long, Long, Long)]).toSeq
      .filter(_._1 < 100000L).sortBy(_._1)
    val preW = all.filter(r => Set(0L, 100L).contains(r._1))
    val postW = all.filter(_._1 >= 300L)
    assert(preW.size == 2 && postW.nonEmpty, s"window accounting off: $all")
    // normalized nats: kl_fp / 1e6 / (n_tokens + nBuckets)
    def nats(r: (Long, Long, Long)) = r._3.toDouble / 1e6 / (r._2 + 512)
    val preMin = preW.map(nats).min
    val postMax = postW.map(nats).max
    info(s"stale-reference windows: ${preW.map(nats)}; refreshed: ${postW.map(nats)}")
    assert(preMin > 1.0, s"stale-reference drift did not alarm: $preMin nats")
    assert(postMax < preMin / 10,
      s"alarm did not clear after the reference refreshed: post=$postMax pre=$preMin")
  }

  test("online PQ-index flagging on a live embedding stream equals the batch semi-join") {
    import graft.similarity.Pq
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect()
    val cb = Pq.syntheticCodebooks(m = 8, k = 16, w = 8)
    val history = Tables.embeddings(spark, sfDir).filter(col("vec_id") % 2 === 0)
    val index = Pq.codeBandSignatures(history, col("vec_id"), col("embedding"), cb, bands = 2)

    val in = MemoryStream[(Long, Array[Float])]
    val stream = in.toDF().toDF("vec_id", "embedding")
      .withColumn("__ts", timestamp_micros(col("vec_id") * 1000000L))
    val ckpt = tempDir("pq-flag-ckpt")
    val q = StreamOps.flagAgainstPqIndex(
        stream.filter(col("vec_id") % 2 === 1), col("vec_id"), col("embedding"),
        "__ts", "1 hour", index, cb, bands = 2)
      .writeStream.format("memory").queryName("pq_flagged")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      emb.grouped(100).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.table("pq_flagged").select("id")
      .collect().map(_.getLong(0)).toSet
    val expect = Pq.codeBandSignatures(
        Tables.embeddings(spark, sfDir).filter(col("vec_id") % 2 === 1),
        col("vec_id"), col("embedding"), cb, bands = 2)
      .join(index.select("band", "band_sig"), Seq("band", "band_sig"), "left_semi")
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(got === expect, s"flagged ${got.size}, batch semi-join expects ${expect.size}")
    assert(expect.nonEmpty && expect.size < emb.length / 2,
      "PQ flagging test needs a non-trivial flagged subset to bite")
  }

  test("windowedCalibratedThreshold: NaN and null scores are excluded, not binned at cell 0") {
    import spark.implicits._
    val base = 1700000000000L
    val clean = (0 until 40).map(i =>
      (base + i * 1000L, "g", Option(0.3 + 0.01 * i)))
    val polluted = clean ++
      (0 until 25).map(i => (base + i * 1000L, "g", Option(Double.NaN))) ++
      (0 until 5).map(i => (base + i * 1000L, "g", Option.empty[Double]))
    def run(rows: Seq[(Long, String, Option[Double])]) = graft.streaming.StreamOps
      .windowedCalibratedThreshold(
        rows.toDF("tsm", "grp", "score")
          .select(timestamp_millis(col("tsm")).as("ts"), col("grp"),
            col("score")),
        col("grp"), col("score"), col("ts"),
        "100 seconds", "10 seconds", keepFrac = 0.5, cells = 512)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val got = run(polluted)
    assert(got === run(clean), "NaN/null rows shifted the calibrated cutoff")
    assert(got.head._2 === 40L, s"total must count only real scores: $got")
  }
}
