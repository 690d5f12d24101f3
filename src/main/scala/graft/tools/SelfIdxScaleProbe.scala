package graft.tools

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge

import graft.streaming.StreamOps

/** Scale shape of the self-indexing near-dup flagger as history grows: the
  * per-batch cost model is encode(batch) + ONE column-pruned scan of the
  * signature history under a broadcast hash join (never a history shuffle)
  * — so per-batch input bytes must grow LINEARLY with accumulated history
  * (bytes-per-history-row flat) while per-batch SHUFFLE stays bounded by
  * the batch itself (flat as history grows 20×). Those two curves, not
  * flat wall time, are the 100 TB claim: a linear, cheap, column-pruned
  * scan is the designed cost; a superlinear curve or growing shuffle would
  * mean the plan degraded.
  *
  * Synthetic corpus: `batches` × `batchRows` docs, every 10th doc a
  * verbatim duplicate of an earlier one (so flags fire throughout).
  * Writes `SELFIDX_PROBE.json`. Run: `runMain graft.tools.SelfIdxScaleProbe`.
  */
object SelfIdxScaleProbe {

  private final class Tap extends SparkListener {
    val input = new LongAdder; val sw = new LongAdder
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        input.add(m.inputMetrics.bytesRead)
        sw.add(m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  final case class BatchSample(batch: Int, sec: Double, inputMb: Double, shuffleMb: Double)

  def main(args: Array[String]): Unit = {
    val batches = args.lift(0).map(_.toInt).getOrElse(20)
    val batchRows = args.lift(1).map(_.toLong).getOrElse(5000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // doc text: 30 deterministic pseudo-words from the id; every 10th doc
    // reuses doc (id - id % 10) exactly — a guaranteed near-dup ancestor
    def docs(b: Int): DataFrame =
      spark.range(b * batchRows, (b + 1) * batchRows)
        .select(col("id").as("doc_id"),
          transform(sequence(lit(0), lit(29)), i =>
            concat(lit("w"), pmod(
              (col("id") - col("id") % 10) * 31 + i * 7 + ((col("id") - col("id") % 10) % 97) * i,
              lit(50021)).cast("string")))
            .as("toks"))
        .select(col("doc_id"), array_join(col("toks"), " ").as("text"))

    val indexDir = java.nio.file.Files
      .createTempDirectory("graft-selfidx-probe").toString + "/idx"
    def runBatch(b: Int): BatchSample = {
      val tap = new Tap
      spark.sparkContext.addSparkListener(tap)
      val t0 = System.nanoTime()
      var nFlags = 0L
      try {
        nFlags = StreamOps.flagAndIndexTextBatch(docs(b), b.toLong,
          col("doc_id"), col("text"), indexDir,
          k = 16, bands = 4, shingleSize = 5).count()
      } finally {
        GraftBridge.drainListenerBus(spark.sparkContext)
        spark.sparkContext.removeSparkListener(tap)
      }
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[selfidx] batch $b: $sec%.2f s, flags=$nFlags")
      BatchSample(b, sec, tap.input.sum() / 1048576.0, tap.sw.sum() / 1048576.0)
    }

    runBatch(0) // also the JIT/codegen warm batch — excluded from ratios
    val samples = (1 until batches).map(runBatch)

    def num(v: Double, dp: Int): String =
      String.format(java.util.Locale.ROOT, "%." + dp + "f", Double.box(v))
    // input bytes per unit of accumulated history: flat ⇔ scan is linear
    def perHistory(s: BatchSample) = s.inputMb / s.batch
    val early = samples.take(5)
    val late = samples.takeRight(5)
    val inputPerHistRatio =
      late.map(perHistory).sum / 5 / (early.map(perHistory).sum / 5)
    val shuffleRatio = (late.map(_.shuffleMb).sum / 5) /
      math.max(1e-9, early.map(_.shuffleMb).sum / 5)
    // linear scan (ratio ~1, 2× slack for footer noise); shuffle flat as
    // history grows (bounded by the constant batch size, 2× slack)
    val ok = inputPerHistRatio <= 2.0 && shuffleRatio <= 2.0
    val json =
      s"""{"probe":"selfidx-scale","batches":$batches,"batch_rows":$batchRows,""" +
        s""""sec":[${samples.map(s => num(s.sec, 2)).mkString(",")}],""" +
        s""""input_mb":[${samples.map(s => num(s.inputMb, 2)).mkString(",")}],""" +
        s""""shuffle_mb":[${samples.map(s => num(s.shuffleMb, 2)).mkString(",")}],""" +
        s""""input_per_history_ratio_late_vs_early":${num(inputPerHistRatio, 3)},""" +
        s""""shuffle_ratio_late_vs_early":${num(shuffleRatio, 3)},""" +
        s""""history_scan_linear":${inputPerHistRatio <= 2.0},""" +
        s""""shuffle_flat":${shuffleRatio <= 2.0},"all_ok":$ok}"""
    println(json)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("SELFIDX_PROBE.json"), json + "\n")
    catch { case e: Throwable => System.err.println(s"[selfidx] write failed: $e") }
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
