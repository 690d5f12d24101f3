package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.similarity.Pq
import graft.streaming.StreamOps

/** The self-indexing streaming near-dup flagger: unbounded history as
  * disk-resident PQ-signature segments, bounded (zero) state-store state.
  * Contract under test: the flagged set is batch-split-INVARIANT — for any
  * id-ordered split into micro-batches it equals the batch self-join with
  * `h.id < o.id` — and a replayed batch is idempotent (reads only
  * strictly-earlier segments, overwrites its own).
  */
class SelfIndexingFlaggerSpec extends SparkTestBase {

  private val cb = Pq.syntheticCodebooks(m = 8, k = 16, w = 8)

  private def expectedFlagged(): Set[Long] = {
    val bs = Pq.codeBandSignatures(
      Tables.embeddings(spark, sfDir), col("vec_id"), col("embedding"), cb, bands = 2)
    bs.as("o")
      .join(bs.select(col("band"), col("band_sig"), col("id").as("h_id")).as("h"),
        Seq("band", "band_sig"))
      .filter(col("h_id") < col("id"))
      .select(col("id")).distinct()
      .collect().map(_.getLong(0)).toSet
  }

  test("streamed flags equal the batch self-join under random id-ordered splits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val expect = expectedFlagged()
    assert(expect.nonEmpty && expect.size < 500,
      s"fixture must flag a non-trivial subset to bite, got ${expect.size}")

    val rows = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)

    val seed = sys.props.get("graft.fuzz.seed").map(_.toLong).getOrElse(20260815L)
    for (round <- 0 until 2) {
      val rnd = new scala.util.Random(seed + round)
      // random id-ordered split into 3–6 non-empty batches
      val nCuts = 2 + rnd.nextInt(4)
      val cuts = (Seq.fill(nCuts)(1 + rnd.nextInt(rows.length - 1)).distinct.sorted
        :+ rows.length).prepended(0)
      val batches = cuts.sliding(2).map { case Seq(a, b) => rows.slice(a, b) }
        .filter(_.nonEmpty).toSeq

      val indexDir = tempDir(s"graft-selfidx-$round") + "/idx"
      val flagged = new ConcurrentLinkedQueue[Long]()
      val in = MemoryStream[(Long, Array[Float])]
      val q = StreamOps.selfIndexingPqFlagger(
        in.toDF().toDF("vec_id", "embedding"),
        col("vec_id"), col("embedding"), indexDir, cb, bands = 2,
        checkpoint = tempDir(s"graft-selfidx-ckpt-$round")) {
        flags => flags.collect().foreach(r => flagged.add(r.getLong(0)))
      }
      try {
        batches.foreach { chunk => in.addData(chunk); q.processAllAvailable() }
      } finally q.stop()

      val got = flagged.asScala.toSet
      assert(got == expect,
        s"round $round (${batches.size} batches): only-stream=${(got -- expect).take(5)} " +
          s"only-batch=${(expect -- got).take(5)}")
    }
  }

  test("a replayed batch is idempotent: same flags, segment overwritten not duplicated") {
    import spark.implicits._
    val rows = Tables.embeddings(spark, sfDir)
    val indexDir = tempDir("graft-selfidx-replay") + "/idx"

    val b0 = rows.filter(col("vec_id") < 250)
    val b1 = rows.filter(col("vec_id") >= 250)
    def run(batch: org.apache.spark.sql.DataFrame, id: Long): Set[Long] =
      StreamOps.flagAndIndexPqBatch(batch, id, col("vec_id"), col("embedding"),
          indexDir, cb, bands = 2)
        .as[Long].collect().toSet

    val f0 = run(b0, 0L); val f1 = run(b1, 1L)
    // the at-least-once crash case: batch 1 replays — history must exclude
    // its own previous segment, so flags and index size are unchanged
    val f1replay = run(b1, 1L)
    assert(f1replay == f1, "replay changed the flagged set")
    val segRows = spark.read.parquet(indexDir)
    assert(segRows.count() == 500 * 2,
      s"index must hold exactly rows×bands signatures, got ${segRows.count()}")
    assert(segRows.select("batch").distinct().count() == 2)
    // union across batches still equals the global contract
    assert((f0 ++ f1) == expectedFlagged(), "two-batch run diverged from the batch self-join")
  }

  test("text (minhash/LSH) self-indexing flagger matches the batch self-join") {
    import spark.implicits._
    val d = Tables.documents(spark, sfDir)
    val indexDir = tempDir("graft-selfidx-text") + "/idx"

    // batch expectation: dq17's banding, flagged iff an EARLIER doc shares a band
    val wide = d.select(col("doc_id").as("id"),
        graft.functions.minhash_sigs(col("text"), 5, 16).as("__mh"))
      .filter(col("__mh").isNotNull)
      .select(col("id") +: (0 until 16).map(i => col("__mh")(i).as(s"mh$i")): _*)
    val bs = graft.dedup.Dedup.lshBandSignaturesWide(wide, 16, 4)
    val expect = bs.as("o")
      .join(bs.select(col("band"), col("band_sig"), col("id").as("h_id")).as("h"),
        Seq("band", "band_sig"))
      .filter(col("h_id") < col("id"))
      .select(col("id")).distinct().as[Long].collect().toSet
    assert(expect.nonEmpty, "fixture must flag a non-trivial text subset")

    val n = d.agg(max(col("doc_id"))).head.getLong(0)
    val got = Seq(
      d.filter(col("doc_id") < n / 3) -> 0L,
      d.filter(col("doc_id") >= n / 3 && col("doc_id") < 2 * n / 3) -> 1L,
      d.filter(col("doc_id") >= 2 * n / 3) -> 2L
    ).flatMap { case (batch, id) =>
      StreamOps.flagAndIndexTextBatch(batch, id, col("doc_id"), col("text"),
        indexDir, k = 16, bands = 4, shingleSize = 5).as[Long].collect()
    }.toSet
    assert(got == expect,
      s"only-stream=${(got -- expect).take(5)} only-batch=${(expect -- got).take(5)}")
  }

  test("the history probe broadcasts the batch side — history is scanned, never shuffled") {
    val rows = Tables.embeddings(spark, sfDir)
    val indexDir = tempDir("graft-selfidx-plan") + "/idx"
    StreamOps.flagAndIndexPqBatch(rows.filter(col("vec_id") < 250), 0L,
      col("vec_id"), col("embedding"), indexDir, cb, bands = 2).collect()
    val banded = Pq.codeBandSignatures(
      rows.filter(col("vec_id") >= 250), col("vec_id"), col("embedding"), cb, bands = 2)
    val plan = StreamOps.historyCheck(banded, indexDir, 1L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"history probe must broadcast the batch side, plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"history probe must never shuffle the history side, plan:\n$plan")
  }

  test("segment compaction preserves flags and bounds the file count") {
    import spark.implicits._
    val rows = Tables.embeddings(spark, sfDir)
    val indexDir = tempDir("graft-selfidx-compact") + "/idx"
    def run(pred: org.apache.spark.sql.Column, id: Long): Set[Long] =
      StreamOps.flagAndIndexPqBatch(rows.filter(pred), id,
          col("vec_id"), col("embedding"), indexDir, cb, bands = 2)
        .as[Long].collect().toSet

    run(col("vec_id") < 150, 0L)
    run(col("vec_id") >= 150 && col("vec_id") < 300, 1L)
    run(col("vec_id") >= 300 && col("vec_id") < 400, 2L)
    // compact everything strictly below the last committed batch (2): only
    // the latest batch may replay, so folding 0..1 into batch=1 is safe
    StreamOps.compactIndexSegments(spark, indexDir, upToBatch = 1L)
    val segs = spark.read.parquet(indexDir).select("batch").distinct()
      .as[Long].collect().sorted
    assert(segs.toSeq == Seq(1L, 2L), s"expected segments [1,2], got ${segs.toSeq}")
    // idempotent re-run (the crash-between-write-and-delete recovery path)
    StreamOps.compactIndexSegments(spark, indexDir, upToBatch = 1L)
    assert(spark.read.parquet(indexDir).count() == 400 * 2,
      "compaction must keep exactly rows×bands signatures")
    // the next batch's flags are unchanged by compaction: same semantics
    // as an uncompacted twin index fed the same four batches
    val twinDir = tempDir("graft-selfidx-twin") + "/idx"
    def runTwin(pred: org.apache.spark.sql.Column, id: Long): Set[Long] =
      StreamOps.flagAndIndexPqBatch(rows.filter(pred), id,
          col("vec_id"), col("embedding"), twinDir, cb, bands = 2)
        .as[Long].collect().toSet
    runTwin(col("vec_id") < 150, 0L)
    runTwin(col("vec_id") >= 150 && col("vec_id") < 300, 1L)
    runTwin(col("vec_id") >= 300 && col("vec_id") < 400, 2L)
    val afterCompact = run(col("vec_id") >= 400, 3L)
    val afterPlain = runTwin(col("vec_id") >= 400, 3L)
    assert(afterCompact == afterPlain, "compaction changed a later batch's flags")
  }

  test("rent-or-buy compaction scheduler fires exactly at the modeled crossover") {
    // pure decision math on a synthetic growth curve: one 2 MB segment per
    // batch, rent c=1 s/extra-segment/batch, fold f=1 s/MB. Rent-to-date at
    // batch k is k(k-1)/2, buy price is 2k -> first crossover at k=5; after
    // the fold (segments collapse to 2) the debt restarts and the same
    // arithmetic lands the second fire at batch 10. Hand-computed walk:
    //   k:     1  2  3  4  5*  3  4  5  6  7*
    //   debt:  0  1  3  6  10  2  5  9 14  20
    //   buy:   2  4  6  8  10 12 14 16 18  20
    val sched = new graft.streaming.SelfIndexCompaction(
      perSegmentProbeSec = 1.0, foldSecPerMb = 1.0, minSegments = 2)
    var debt = 0.0
    var segs = 0
    var totalMb = 0.0
    val fired = scala.collection.mutable.ArrayBuffer.empty[Int]
    for (batch <- 1 to 10) {
      segs += 1; totalMb += 2.0
      debt += (segs - 1) * 1.0
      if (sched.shouldCompact(segs, totalMb, debt)) {
        fired += batch
        segs = 2 // fold <= batch-1 into one segment + the current one
        debt = 0.0
      }
    }
    assert(fired.toSeq === Seq(5, 10),
      s"crossover drifted from the closed form: $fired")
  }

  test("scheduled compaction: flags identical to the unscheduled twin, segments bounded, no-fold twin unbounded") {
    import spark.implicits._
    val rows = Tables.embeddings(spark, sfDir)
    val dirA = tempDir("graft-selfidx-schedA") + "/idx"
    val dirB = tempDir("graft-selfidx-schedB") + "/idx"
    // rent >> buy: fires on every batch once minSegments is reached -> the
    // segment count stays pinned at <= 3 no matter how long the stream runs
    val eager = new graft.streaming.SelfIndexCompaction(
      perSegmentProbeSec = 1000.0, foldSecPerMb = 1.0, minSegments = 3)
    // buy >> rent: never fires -> one directory per batch, the unbounded
    // shape the scheduler exists to prevent
    val never = new graft.streaming.SelfIndexCompaction(
      perSegmentProbeSec = 1e-9, foldSecPerMb = 1e9, minSegments = 3)
    val preds = (0 until 6).map(i =>
      col("vec_id") >= i * 80 && col("vec_id") < (i + 1) * 80)
    val (flagsA, flagsB) = preds.zipWithIndex.map { case (pred, i) =>
      val a = StreamOps.flagAndIndexPqBatch(rows.filter(pred), i.toLong,
        col("vec_id"), col("embedding"), dirA, cb, bands = 2).as[Long].collect().toSet
      eager.afterBatch(spark, dirA, i.toLong)
      val b = StreamOps.flagAndIndexPqBatch(rows.filter(pred), i.toLong,
        col("vec_id"), col("embedding"), dirB, cb, bands = 2).as[Long].collect().toSet
      never.afterBatch(spark, dirB, i.toLong)
      (a, b)
    }.unzip
    assert(flagsA === flagsB, "scheduled folding changed a batch's flags")
    assert(flagsA.flatten.nonEmpty, "fixture must flag a non-trivial subset")
    def segDirs(d: String): Seq[String] =
      new java.io.File(d).listFiles().map(_.getName).filter(_.startsWith("batch=")).toSeq.sorted
    // eager: fires at batches 2..5 (k reaches minSegments=3 at batch 2 and
    // stays there because every fire folds <= batchId-1)
    assert(eager.firedAt === Seq(2L, 3L, 4L, 5L), s"fired at ${eager.firedAt}")
    assert(never.firedAt.isEmpty, s"never-policy fired: ${never.firedAt}")
    assert(segDirs(dirA).size <= 3, s"scheduled index unbounded: ${segDirs(dirA)}")
    assert(segDirs(dirB).size === 6, s"unscheduled twin should hold 6 segments: ${segDirs(dirB)}")
  }
}
