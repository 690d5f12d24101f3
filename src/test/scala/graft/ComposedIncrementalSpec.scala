package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.similarity.{Knn, Pq}
import graft.streaming.StreamOps

/** The two incremental-segment families COMPOSED (round-17 punch item #5):
  * ONE stream of arriving vectors simultaneously (a) appends to the
  * persisted IVF index as delta segments (`ivfAppendSink`, the dq27
  * machinery) and (b) flags near-dups against its own growing history
  * (`selfIndexingPqFlagger`, the dq28 machinery) — the live
  * ingest-dedup-index shape of a production embedding pipeline. Across ≥3
  * triggers, with the rent-or-buy scheduler folding the self-index
  * MID-RUN and a blue/green IVF compaction at the end:
  *   - the flagged set equals the batch self-join over the arrivals,
  *   - the incremental probe equals a frozen-centroid rebuild,
  *   - neither compaction changes either answer.
  */
class ComposedIncrementalSpec extends SparkTestBase {

  private val cb = Pq.syntheticCodebooks(m = 8, k = 16, w = 8)

  test("one stream drives IVF appends and the self-indexing flagger; compactions change nothing") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val e = Tables.embeddings(spark, sfDir)
    val tmp = tempDir("graft-composed")
    val deltaPath = s"$tmp/delta"
    val selfIdxDir = s"$tmp/selfidx"

    Knn.buildIvfIndex(e.filter(col("vec_id") < 250), "vec_id", "embedding",
      nlist = 16, tableName = "ivf_comp_spec", path = s"$tmp/idx", buckets = 8)
    try {
      val arrivals = e.filter(col("vec_id") >= 250)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect().sortBy(_._1)
      val in = MemoryStream[(Long, Array[Float])]
      val src = in.toDF().toDF("vec_id", "embedding")

      val flagged = new ConcurrentLinkedQueue[Long]()
      // rent >> buy: the self-index folds on every eligible batch, so the
      // mid-run compaction path is exercised on every trigger from the 3rd
      val sched = new graft.streaming.SelfIndexCompaction(
        perSegmentProbeSec = 1000.0, foldSecPerMb = 1.0, minSegments = 3)
      val qFlag = StreamOps.selfIndexingPqFlagger(
        src, col("vec_id"), col("embedding"), selfIdxDir, cb, bands = 2,
        checkpoint = tempDir("graft-comp-ck1"),
        compaction = Some(sched)) { df =>
        df.collect().foreach(r => flagged.add(r.getLong(0)))
      }
      val qIvf = StreamOps.ivfAppendSink(
        src, "ivf_comp_spec", deltaPath, "vec_id", "embedding",
        checkpoint = tempDir("graft-comp-ck2"))
      var triggers = 0
      try {
        arrivals.grouped(63).foreach { chunk =>
          in.addData(chunk)
          qFlag.processAllAvailable()
          qIvf.processAllAvailable()
          triggers += 1
        }
      } finally { qFlag.stop(); qIvf.stop() }
      assert(triggers >= 3, s"scenario must span several triggers, got $triggers")
      assert(sched.firedAt.nonEmpty, "the self-index must have folded MID-RUN")

      // (a) flags == the batch self-join over the arrivals (the dq28
      // split-invariance contract), unharmed by the mid-run folds
      val bs = Pq.codeBandSignatures(e.filter(col("vec_id") >= 250),
        col("vec_id"), col("embedding"), cb, bands = 2)
      val expectFlags = bs.as("o")
        .join(bs.select(col("band"), col("band_sig"), col("id").as("h_id")).as("h"),
          Seq("band", "band_sig"))
        .filter(col("h_id") < col("id"))
        .select(col("id")).distinct().as[Long].collect().toSet
      assert(expectFlags.nonEmpty, "fixture must flag a non-trivial subset")
      assert(flagged.asScala.toSet === expectFlags,
        "composed run's flags diverged from the batch self-join")

      // (b) incremental IVF probe == frozen-centroid rebuild over everything
      val queries = e.filter(col("vec_id") % 50 === 0)
      val incremental = Knn.ivfProbeTopKIncremental(
          spark, "ivf_comp_spec", deltaPath, queries, "vec_id", "embedding",
          k = 5, nprobe = 4)
        .select("query_id", "rank", "nbr_id").as[(Long, Int, Long)].collect().toSet
      assert(incremental.exists(_._3 >= 250), "no streamed vector surfaced as neighbor")
      Knn.buildIvfIndex(e, "vec_id", "embedding", nlist = 16,
        tableName = "ivf_comp_rebuild", path = s"$tmp/idx_rebuild", buckets = 8,
        centroids = Some(spark.table("ivf_comp_spec_centroids")))
      val rebuilt = Knn.ivfProbeTopK(
          spark, "ivf_comp_rebuild", queries, "vec_id", "embedding", k = 5, nprobe = 4)
        .select("query_id", "rank", "nbr_id").as[(Long, Int, Long)].collect().toSet
      assert(incremental === rebuilt, "composed appends diverged from the rebuild")

      // (c) blue/green IVF compaction after the run probes identically
      Knn.compactIvfIndex(spark, "ivf_comp_spec", deltaPath,
        newTableName = "ivf_comp_compact", newPath = s"$tmp/idx_compact", buckets = 8)
      val compacted = Knn.ivfProbeTopKIncremental(
          spark, "ivf_comp_compact", s"$tmp/no-such-delta", queries,
          "vec_id", "embedding", k = 5, nprobe = 4)
        .select("query_id", "rank", "nbr_id").as[(Long, Int, Long)].collect().toSet
      assert(compacted === incremental, "compacted IVF index probes differently")
    } finally {
      Seq("ivf_comp_spec", "ivf_comp_spec_centroids", "ivf_comp_rebuild",
        "ivf_comp_rebuild_centroids", "ivf_comp_compact",
        "ivf_comp_compact_centroids")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
