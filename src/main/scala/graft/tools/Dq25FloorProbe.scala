package graft.tools

import org.apache.spark.sql.functions._

import graft.tools.Probe.{num, timed}

/** Decomposes dq25's warm cost (the bench set's most expensive query) into
  * its harness floor: the query drives a REAL 6-micro-batch streaming run
  * per rep, so the question is whether the ~2-3 s warm median is (a) tmpfs
  * being unavailable (ruled out separately — the bench now logs
  * `checkpoint=tmpfs`), (b) fixable harness overhead, or (c) the
  * state-store commit protocol itself. Three measurements, same session
  * settings as the query (noDataMicroBatches off, 4 shuffle partitions,
  * /dev/shm checkpoints, 6 addData+processAllAvailable cycles):
  *
  *   - `stateless`: MemoryStream → append foreachBatch count, NO state
  *     store — the pure micro-batch machinery floor (offset log + commit
  *     log + planning per batch);
  *   - `stateful_min`: the same 6 batches through a MINIMAL windowed count
  *     (one stateful operator, 4 state partitions) — adds the HDFS-backed
  *     state-store load/commit/fsync path;
  *   - `dq25`: the registered query itself via SparkEntry.
  *
  * dq25 − stateful_min = the query's own work (3 reference censuses + the
  * drift aggregation); stateful_min − stateless = the state-commit
  * protocol; stateless = the irreducible 6-batch harness. Writes
  * `tools/dq25_floor.json`; it reports and checks no property.
  *
  * Usage: runMain graft.tools.Probe dq25floor [sfDir]
  */
object Dq25FloorProbe {

  private def medianOf3(f: => Double): Seq[Double] = Seq.fill(3)(f).sorted

  def run(ctx: Probe.Ctx): Probe.Result = {
    import ctx.{args, spark}
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")

    def ckptDir(): String = {
      val base = java.nio.file.Paths.get("/dev/shm")
      (if (java.nio.file.Files.isWritable(base))
        java.nio.file.Files.createTempDirectory(base, "graft-dq25floor")
      else java.nio.file.Files.createTempDirectory("graft-dq25floor")).toString
    }

    // the dq25 harness shape: cloned session, real batch ids, 4 state parts
    def harnessRep(stateful: Boolean): Double = {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val sess = spark.newSession()
      sess.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      sess.conf.set("spark.sql.shuffle.partitions", "4")
      val in = MemoryStream[(Long, String)](
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.STRING),
        sess.sqlContext)
      val base = in.toDF().toDF("doc_id", "text")
        .withColumn("__ts", timestamp_micros(col("doc_id") * 1000000L))
      val frame =
        if (stateful)
          base.withWatermark("__ts", "0 seconds")
            .groupBy(window(col("__ts"), "100 seconds"))
            .agg(count(lit(1)).as("n"))
        else base.select(count(lit(1)).as("n")) // per-batch agg, no state
      val ckpt = ckptDir()
      timed {
        val q = frame.writeStream
          .option("checkpointLocation", ckpt)
          .outputMode(if (stateful) "append" else "complete")
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.collect(); ()
          }.start()
        try {
          // 6 batches: the dq25 shape (3 epochs, 1 refresh cadence, 2 flushes)
          (0 until 6).foreach { i =>
            in.addData((i * 1000L + 1L, "x"), (i * 1000L + 2L, "y"))
            q.processAllAvailable()
          }
        } finally {
          q.stop()
          // /dev/shm is RAM: reclaim each rep's checkpoint immediately
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
        }
      }._2
    }

    def dq25Rep(): Double = timed {
      graft.SparkEntry.queries("dq25_stream_drift_refresh")(spark, dir)
        .write.format("noop").mode("overwrite").save()
    }._2

    // warm every path once (plan + codegen compile out of the window)
    harnessRep(stateful = false); harnessRep(stateful = true); dq25Rep()

    val stateless = medianOf3(harnessRep(stateful = false))
    val statefulMin = medianOf3(harnessRep(stateful = true))
    val dq25 = medianOf3(dq25Rep())

    def arr(s: Seq[Double]): String = s.map(num(_, 3)).mkString("[", ",", "]")
    val json =
      s"""{"probe":"dq25-floor","sf":"$dir","batches_per_rep":6,""" +
        s""""stateless_reps":${arr(stateless)},"stateful_min_reps":${arr(statefulMin)},""" +
        s""""dq25_reps":${arr(dq25)},""" +
        s""""stateless_median":${num(stateless(1), 3)},""" +
        s""""stateful_min_median":${num(statefulMin(1), 3)},""" +
        s""""dq25_median":${num(dq25(1), 3)},""" +
        s""""state_commit_cost":${num(statefulMin(1) - stateless(1), 3)},""" +
        s""""query_own_work":${num(dq25(1) - statefulMin(1), 3)}}"""
    Probe.Result(json, "tools/dq25_floor.json", ok = true)
  }
}
