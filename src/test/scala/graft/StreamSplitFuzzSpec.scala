package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamOps

/** Seeded live ≡ batch fuzz over RANDOM micro-batch splits — the streaming
  * analog of MergeFuzzSpec: Spark may cut a stream into micro-batches at
  * ANY point, and the stateful windowed operators must produce the same
  * closed windows whether a window's rows arrive in one batch or carry
  * across many through the state store. StreamingPipelineSpec pins fixed
  * splits; every case here draws a random event stream (time-sorted, so no
  * row is ever late — late-drop semantics are the separate, deliberate
  * divergence from batch), a random contiguous batch split, random window/
  * watermark widths, and compares the live append-mode output row-for-row
  * with the batch form of the SAME operator call.
  *
  * Replay: sbt 'set Test/javaOptions += "-Dgraft.fuzz.seed=<base>"'
  *             "testOnly graft.StreamSplitFuzzSpec"
  */
class StreamSplitFuzzSpec extends SparkTestBase {
  import spark.implicits._

  private val seed = sys.props.get("graft.fuzz.seed").map(_.toLong).getOrElse(20260815L)

  /** Drive `op(stream)` over `rows` cut at `cuts`, with a far-future flush
    * batch so every real window closes; returns the appended rows collected
    * across all batches (as untyped Row seq, ordered by the caller).
    */
  private def runLive(
      rows: IndexedSeq[(String, Long)],
      cuts: Seq[Int],
      flushTs: Long)(op: DataFrame => DataFrame): Seq[org.apache.spark.sql.Row] = {
    val sess = spark.newSession()
    sess.conf.set("spark.sql.shuffle.partitions", "4")
    val in = MemoryStream[(String, Long)](
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.scalaLong),
      sess.sqlContext)
    val src = in.toDF().toDF("key", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val out = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val q = op(src).writeStream
      .option("checkpointLocation", tempDir("split-fuzz"))
      .outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) => b.collect().foreach(out.add); () }
      .start()
    try {
      val bounds = (Seq(0) ++ cuts.sorted ++ Seq(rows.size)).distinct.sorted
      bounds.sliding(2).foreach { w =>
        in.addData(rows.slice(w(0), w(1))); q.processAllAvailable()
      }
      // '#' keeps the flush row parseable by the compaction test's key
      // splitter (ANSI getItem throws on a missing array element)
      in.addData(("flush#0", flushTs)); q.processAllAvailable()
    } finally q.stop()
    out.toArray(Array.empty[org.apache.spark.sql.Row]).toSeq
  }

  /** Random time-SORTED stream: small key domain (collisions constant),
    * event times drift forward with occasional plateaus and jumps so window
    * boundaries land everywhere relative to batch cuts.
    */
  private def randomStream(rnd: Random, n: Int): IndexedSeq[(String, Long)] = {
    var t = 0L
    IndexedSeq.fill(n) {
      t += (rnd.nextInt(4) match {
        case 0 => 0L // same second — in-window ties
        case 1 => rnd.nextLong(5L)
        case 2 => rnd.nextLong(40L)
        case _ => rnd.nextLong(200L) // jump: closes several windows at once
      })
      (s"k${rnd.nextInt(6)}", t)
    }
  }

  private def sortedRows(rs: Seq[org.apache.spark.sql.Row]): Seq[String] =
    rs.map(_.toString).sorted

  test(s"windowedRates: live over random splits == batch (base $seed)") {
    info(s"fuzz seed base: $seed")
    val rnd = new Random(seed)
    (0 until 25).foreach { iter =>
      val rows = randomStream(rnd, 40 + rnd.nextInt(160))
      val cuts = Seq.fill(rnd.nextInt(6))(rnd.nextInt(rows.size + 1))
      val windowSec = 10 + rnd.nextInt(120)
      val delaySec = rnd.nextInt(60)
      def op(df: DataFrame): DataFrame = StreamOps.windowedRates(
        df, col("key"), col("ts"), s"$windowSec seconds", s"$delaySec seconds")
      val live = runLive(rows, cuts, flushTs = 100000000L)(op)
      val batch = op(rows.toDF("key", "sec")
          .withColumn("ts", timestamp_seconds(col("sec"))))
        .collect().toSeq
      assert(sortedRows(live) == sortedRows(batch),
        s"iter $iter (win=$windowSec delay=$delaySec cuts=$cuts): " +
          s"live ${live.size} rows != batch ${batch.size}")
    }
  }

  test(s"windowedDistinctSketch: live over random splits == batch (base $seed)") {
    val rnd = new Random(seed ^ 0x5137)
    (0 until 25).foreach { iter =>
      val rows = randomStream(rnd, 40 + rnd.nextInt(160))
      val cuts = Seq.fill(rnd.nextInt(6))(rnd.nextInt(rows.size + 1))
      val windowSec = 20 + rnd.nextInt(120)
      def op(df: DataFrame): DataFrame = StreamOps.windowedDistinctSketch(
        df, substring(col("key"), 2, 1), col("key"), col("ts"),
        s"$windowSec seconds", s"${rnd.nextInt(40)} seconds", m = 64, k = 8)
      val live = runLive(rows, cuts, flushTs = 100000000L)(op)
      // the flush row's own (never-closing) window must not appear; filter
      // by window start being far-future on BOTH sides for symmetry
      val batch = op(rows.toDF("key", "sec")
          .withColumn("ts", timestamp_seconds(col("sec"))))
        .collect().toSeq
      assert(sortedRows(live.filterNot(_.toString.contains("5138-"))) ==
          sortedRows(batch.filterNot(_.toString.contains("5138-"))),
        s"iter $iter (win=$windowSec cuts=$cuts): sketch live != batch")
    }
  }

  test(s"windowedSketchStream: live over random splits == batch (base $seed)") {
    // sum updates ONLY: they commute across any micro-batch split, so the
    // CMS cells must be bit-identical however the state store carries a
    // window's partial sketch between batches. (Conservative update is
    // order-dependent by design — its guarantee is the CmsSpec bound, not
    // split-invariance.) Both slot families take turns; the sketch binary
    // itself is opaque in Row.toString, so compare the decoded cell arrays.
    val rnd = new Random(seed ^ 0xc3a5)
    (0 until 25).foreach { iter =>
      val rows = randomStream(rnd, 40 + rnd.nextInt(160))
      val cuts = Seq.fill(rnd.nextInt(6))(rnd.nextInt(rows.size + 1))
      val windowSec = 20 + rnd.nextInt(120)
      val portable = rnd.nextBoolean()
      def op(df: DataFrame): DataFrame = StreamOps.windowedSketchStream(
          df, col("key"), col("ts"), s"$windowSec seconds",
          s"${rnd.nextInt(40)} seconds", width = 16, depth = 3,
          conservative = false, portable = portable)
        .select(col("win"), graft.functions.cms_cells(col("sketch")).as("cells"))
      val live = runLive(rows, cuts, flushTs = 100000000L)(op)
      val batch = op(rows.toDF("key", "sec")
          .withColumn("ts", timestamp_seconds(col("sec"))))
        .collect().toSeq
      assert(sortedRows(live) == sortedRows(batch),
        s"iter $iter (win=$windowSec portable=$portable cuts=$cuts): " +
          s"cms live != batch")
    }
  }

  test(s"compactLatest: live over random splits == batch (base $seed)") {
    val rnd = new Random(seed ^ 0xc09a)
    (0 until 25).foreach { iter =>
      val base = randomStream(rnd, 40 + rnd.nextInt(160))
      // unique per-row seq as the rank tiebreak so "the" winner is
      // well-defined on both paths
      val rows = base.zipWithIndex.map { case ((k, t), i) => (s"$k#$i", t) }
      val cuts = Seq.fill(rnd.nextInt(6))(rnd.nextInt(rows.size + 1))
      val windowSec = 15 + rnd.nextInt(90)
      def op(df: DataFrame): DataFrame = {
        val shaped = df
          .withColumn("k", split(col("key"), "#").getItem(0))
          .withColumn("seq", split(col("key"), "#").getItem(1).cast("long"))
        StreamOps.compactLatest(
          shaped, Seq(col("k")), col("ts"), s"$windowSec seconds",
          s"${rnd.nextInt(40)} seconds",
          payload = Seq(col("seq").as("survivor")), rankCols = Seq(col("ts"), col("seq")))
      }
      val live = runLive(rows, cuts, flushTs = 100000000L)(op)
      val batch = op(rows.toDF("key", "sec")
          .withColumn("ts", timestamp_seconds(col("sec"))))
        .collect().toSeq
      val liveReal = live.filterNot(_.toString.contains("flush"))
      val batchReal = batch.filterNot(_.toString.contains("flush"))
      assert(sortedRows(liveReal) == sortedRows(batchReal),
        s"iter $iter (win=$windowSec cuts=$cuts): compaction live != batch")
    }
  }
}
