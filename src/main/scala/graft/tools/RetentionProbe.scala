package graft.tools

import java.io.File

import org.apache.spark.sql.DataFrame

import graft.tools.Probe.num

/** Stream-AGE probe for the `graft-jsonl` medium — the third leg of the
  * scale story beside [[ScaleProbe]] (batch bytes) and [[StateScaleProbe]]
  * (streaming state): drives a sink→source file topic through 120 produce/
  * consume epochs twice — once with `retentionMs=0` (active retirement of
  * fully-consumed segments) and once without — and records the consumer's
  * checkpointed offset-JSON size and the directory's segment count as the
  * stream ages.
  *
  * The property under test: with retention ON, offset bytes, checkpoint
  * record size and the per-trigger stat loop are bounded by the ACTIVE file
  * set (flat in stream age); without it they grow with every epoch — fine
  * for a test fixture, a driver-side bottleneck by construction for a
  * long-lived production tail. Kafka's analog is `retention.ms`
  * (kafka/core log retention); the reference bounds its in-flight state the
  * same way (the offset deque holds only uncommitted records).
  *
  * The property fails if the retained run's offset JSON grows more than
  * [[FlatRatioMax]]× between the measurement window's first and last
  * samples, if the unretained control does not grow, or if a row is lost.
  * Writes RETENTION_PROBE.json.
  *
  * Usage: runMain graft.tools.Probe retention
  */
object RetentionProbe {

  /** Steady-state offset bytes may wobble with in-flight segment counts but
    * must not track stream age; the unretained control grows ~12× over the
    * same window.
    */
  val FlatRatioMax = 2.0

  final case class Curve(epochs: Int, offsetBytes: Vector[Int], segFiles: Vector[Int],
      rows: Long)

  def run(ctx: Probe.Ctx): Probe.Result = {
    val spark = ctx.spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val epochs = 120

    def curve(retain: Boolean): Curve = {
      val dir = ctx.tempDir(s"retention-$retain")
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
      val producer = in.toDF().selectExpr("""concat('{"id":', value, '}') AS value""")
        .repartition(2)
        .writeStream.format("graft-jsonl").option("path", dir)
        .option("checkpointLocation", ctx.tempDir("retention-p"))
        .start()
      val rows = new java.util.concurrent.atomic.AtomicLong()
      var consumer = spark.readStream.format("graft-jsonl").option("path", dir)
      if (retain) consumer = consumer.option("retentionMs", "0")
      val q = consumer.load()
        .writeStream.option("checkpointLocation", ctx.tempDir("retention-c"))
        .foreachBatch { (b: DataFrame, _: Long) => rows.addAndGet(b.count()); () }
        .start()
      val offsetBytes = Vector.newBuilder[Int]
      val segFiles = Vector.newBuilder[Int]
      try {
        var e = 0
        while (e < epochs) {
          in.addData((e * 10L) until (e * 10L + 10L))
          producer.processAllAvailable() // one sink epoch: 2 new segments
          q.processAllAvailable()        // consume + (maybe) retire
          val endOffset = Option(q.lastProgress)
            .flatMap(p => p.sources.headOption).flatMap(s => Option(s.endOffset))
            .getOrElse("{}")
          offsetBytes += endOffset.length
          segFiles += Option(new File(dir).listFiles()).getOrElse(Array.empty)
            .count(_.getName.endsWith(".jsonl"))
          e += 1
        }
      } finally { producer.stop(); q.stop() }
      Curve(epochs, offsetBytes.result(), segFiles.result(), rows.get())
    }

    val retained = curve(retain = true)
    val control = curve(retain = false)

    // measurement window skips the first 10 epochs (in-flight warmup)
    def window(c: Curve): (Int, Int) = (c.offsetBytes(10), c.offsetBytes.last)
    val (rFirst, rLast) = window(retained)
    val (cFirst, cLast) = window(control)
    val rRatio = rLast.toDouble / math.max(1, rFirst)
    val cRatio = cLast.toDouble / math.max(1, cFirst)
    val flat = rRatio <= FlatRatioMax
    val controlGrows = cRatio >= 4.0 // the probe has bite: unretained MUST grow

    System.err.println(f"[retention] retained:  offset bytes $rFirst -> $rLast (ratio $rRatio%5.2f) " +
      f"segs ${retained.segFiles(10)} -> ${retained.segFiles.last}  rows ${retained.rows}")
    System.err.println(f"[retention] unretained: offset bytes $cFirst -> $cLast (ratio $cRatio%5.2f) " +
      f"segs ${control.segFiles(10)} -> ${control.segFiles.last}  rows ${control.rows}")

    val lost = retained.rows != epochs * 10L || control.rows != epochs * 10L
    val json =
      s"""{"probe":"jsonl-retention","epochs":$epochs,"rows_per_epoch":10,"flat_ratio_max":$FlatRatioMax,""" +
        s""""retained":{"offset_bytes_e10":$rFirst,"offset_bytes_last":$rLast,""" +
        s""""ratio":${num(rRatio, 3)},"seg_files_last":${retained.segFiles.last},"rows":${retained.rows}},""" +
        s""""unretained":{"offset_bytes_e10":$cFirst,"offset_bytes_last":$cLast,""" +
        s""""ratio":${num(cRatio, 3)},"seg_files_last":${control.segFiles.last},"rows":${control.rows}},""" +
        s""""retained_flat":$flat,"control_grows":$controlGrows,"no_loss":${!lost}}"""
    Probe.Result(json, "RETENTION_PROBE.json", flat && controlGrows && !lost)
  }
}
