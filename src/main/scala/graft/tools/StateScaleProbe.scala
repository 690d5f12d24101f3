package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.tools.Probe.num

/** Streaming STATE-shape probe — the state-size half of the scale story
  * ([[ScaleProbe]] measures batch shuffle bytes): drives the watermark-
  * bounded streaming operators over a 1× and a 10× record stream with the
  * SAME key cardinality and event-time horizon, and asserts the state store
  * row counts track the BOUNDED quantities (distinct keys in the watermark
  * horizon / windows × keys) — not the record count. This is the property
  * that makes the streaming pipeline runnable forever: a state size that
  * follows input volume is the unbounded-state bug the watermark exists to
  * prevent.
  *
  * Probes:
  *   - `dedupe` — `StreamOps.dedupeStream` (dropDuplicatesWithinWatermark):
  *     state rows ≈ distinct keys within the horizon;
  *   - `windowed_rates` — `StreamOps.windowedRates` (windowed count agg):
  *     state rows ≈ open windows × keys;
  *   - `distinct_sketch` — `StreamOps.windowedDistinctSketch` (dq24's
  *     HLL + KMV buffers): state rows ≈ open windows × groups, and each row
  *     is a FIXED-width sketch buffer — the bounded replacement for
  *     full-key distinct state, which would track the key count.
  *
  * The property fails if a probe's state grows more than [[StateRatioMax]]×
  * on the 10× step. Writes STATE_PROBE.json (committed beside
  * SCALE_PROBE.json).
  *
  * Usage: runMain graft.tools.Probe state
  */
object StateScaleProbe {

  /** State may grow this much across a 10× record step (covers window-edge
    * effects); linear tracking would be ~10×.
    */
  val StateRatioMax = 2.0

  final case class Run(records: Long, stateRows: Long, outputRows: Long)

  def run(ctx: Probe.Ctx): Probe.Result = {
    val spark = ctx.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val nKeys = 2000
    // event time advances 1 s per record → at 200k records the stream spans
    // ~55 h of event time against a 10-minute watermark: eviction MUST be
    // doing the bounding, not the run being shorter than the horizon
    def measure(probe: String, total: Long): Run = {
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
      val src = in.toDF().toDF("key", "seq")
        .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("seq")))
      val shaped: DataFrame = probe match {
        case "dedupe" =>
          graft.streaming.StreamOps.dedupeStream(src, Seq("key"), "ts", "10 minutes")
        case "windowed_rates" =>
          graft.streaming.StreamOps.windowedRates(
            src, col("key"), col("ts"), "5 minutes", "10 minutes")
        case "distinct_sketch" =>
          // 20 groups × open windows of state, DISTINCT keys counted by the
          // sketch buffers — state rows must track windows×groups, never the
          // record or key count
          graft.streaming.StreamOps.windowedDistinctSketch(
            src, pmod(col("seq"), lit(20)).cast("string"), col("key"), col("ts"),
            "5 minutes", "10 minutes", m = 64, k = 16)
        case "drift_hist" =>
          // the drift alarm's stateful half (dq19/dq25): one bucket_hist
          // row per open window, each a FIXED 64-cell array — state must
          // track open windows only, never records or vocabulary
          graft.streaming.StreamOps.termDriftAlarm(
            src.withColumn("text",
              concat_ws(" ", col("key"), lit("alpha"), lit("beta"))),
            col("text"), "ts", "10 minutes", "5 minutes",
            Seq.fill(64)(1L), nBuckets = 64)
        case "calibrated_gate" =>
          // dq31's stateful half: one 64-cell score histogram per open
          // (window, group) — 20 groups, fixed-width buffers; state must
          // track windows×groups, never records or distinct scores
          graft.streaming.StreamOps.windowedCalibratedThreshold(
            src.withColumn("score",
              pmod(col("seq") * 7919L, lit(1000L)).cast("double") / 1000.0),
            pmod(col("seq"), lit(20)).cast("string"), col("score"), col("ts"),
            "5 minutes", "10 minutes", keepFrac = 0.7, cells = 64)
      }
      val outCount = new java.util.concurrent.atomic.AtomicLong()
      val q = shaped.writeStream
        .option("checkpointLocation", ctx.tempDir(s"state-$probe"))
        .foreachBatch { (b: DataFrame, _: Long) => outCount.addAndGet(b.count()); () }
        .start()
      try {
        var i = 0L
        var maxState = 0L
        // FIXED chunk size at both scales: a micro-batch's event-time span
        // is an ingestion-rate property, not a corpus-size one — scaling
        // the chunk with the total would hand each 10× batch 10× more open
        // windows and report that as "state growth"
        val chunk = 1000L
        while (i < total) {
          val until = math.min(i + chunk, total)
          in.addData((i until until).map(s => (s"key-${s % nKeys}", s)))
          q.processAllAvailable() // batch boundary: watermark advances, state evicts
          // PEAK state across ALL batches (processAllAvailable ends on an
          // empty watermark-advancing batch whose progress reports the
          // store AFTER eviction — a 0 would vacuously pass the bound)
          val s = q.recentProgress
            .map(_.stateOperators.toSeq.map(_.numRowsTotal).sum)
            .foldLeft(0L)(math.max)
          if (s > maxState) maxState = s
          i = until
        }
        Run(total, maxState, outCount.get())
      } finally q.stop()
    }

    val rows = Seq("dedupe", "windowed_rates", "distinct_sketch", "drift_hist",
      "calibrated_gate").map { probe =>
      val r1 = measure(probe, 20000L)
      val r10 = measure(probe, 200000L)
      val ratio = r10.stateRows.toDouble / math.max(1L, r1.stateRows)
      val ok = ratio <= StateRatioMax
      System.err.println(f"[state] $probe%-16s 1x: ${r1.stateRows}%6d state rows / ${r1.records}%7d recs   " +
        f"10x: ${r10.stateRows}%6d / ${r10.records}%7d   ratio $ratio%5.2f ok=$ok")
      (probe, r1, r10, ratio, ok)
    }
    val qJson = rows.map { case (p, r1, r10, ratio, ok) =>
      s""""$p":{"keys":$nKeys,"sf_1x":{"records":${r1.records},"state_rows":${r1.stateRows},"output_rows":${r1.outputRows}},""" +
        s""""sf_10x":{"records":${r10.records},"state_rows":${r10.stateRows},"output_rows":${r10.outputRows}},""" +
        s""""state_ratio":${num(ratio, 3)},"bounded_ok":$ok}"""
    }.mkString("{", ",", "}")
    val allOk = rows.forall(_._5)
    val json = s"""{"probe":"state-shape","step":"10x records, fixed key cardinality","state_ratio_max":$StateRatioMax,""" +
      s""""probes":$qJson,"all_bounded":$allOk}"""
    Probe.Result(json, "STATE_PROBE.json", allOk)
  }
}
