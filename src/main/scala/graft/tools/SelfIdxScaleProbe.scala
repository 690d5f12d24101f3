package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.metrics.QueryProfile
import graft.streaming.StreamOps
import graft.tools.Probe.{num, timed}

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
  * Writes `SELFIDX_PROBE.json`.
  *
  * Usage: runMain graft.tools.Probe selfidx [batches batchRows]
  */
object SelfIdxScaleProbe {

  final case class BatchSample(batch: Int, sec: Double, inputMb: Double, shuffleMb: Double)

  def run(ctx: Probe.Ctx): Probe.Result = {
    import ctx.{args, spark}
    val batches = args.lift(0).map(_.toInt).getOrElse(20)
    val batchRows = args.lift(1).map(_.toLong).getOrElse(5000L)

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

    val indexDir = ctx.tempDir("selfidx") + "/idx"
    def runBatch(b: Int): BatchSample = {
      val ((nFlags, sec), p) = QueryProfile.run(spark)(timed(
        StreamOps.flagAndIndexTextBatch(docs(b), b.toLong,
          col("doc_id"), col("text"), indexDir,
          k = 16, bands = 4, shingleSize = 5).count()))
      System.err.println(f"[selfidx] batch $b: $sec%.2f s, flags=$nFlags")
      BatchSample(b, sec, p.inputBytes / 1048576.0, p.shuffleWriteBytes / 1048576.0)
    }

    runBatch(0) // also the JIT/codegen warm batch — excluded from ratios
    val samples = (1 until batches).map(runBatch)

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
    Probe.Result(json, "SELFIDX_PROBE.json", ok)
  }
}
