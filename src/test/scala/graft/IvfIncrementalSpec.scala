package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.similarity.Knn
import graft.streaming.StreamOps

/** Incremental maintenance of the persisted IVF index: vectors arriving
  * after the build are appended as per-batch delta segments (centroids
  * frozen, assignment row-local, segments idempotent by durable batch id)
  * and probes see base ∪ deltas. The equivalence contract: a probe after N
  * appended batches must equal a probe against a FROZEN-CENTROID rebuild
  * over the full corpus at the same watermark — assignment is deterministic
  * and row-local, so where a vector lives cannot depend on when it arrived.
  */
class IvfIncrementalSpec extends SparkTestBase {

  test("probe after streamed appends equals a frozen-centroid batch rebuild; replays are idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val e = Tables.embeddings(spark, sfDir)
    val tmp = tempDir("graft-ivf-inc")
    val deltaPath = s"$tmp/delta"

    // base index over the first 300 vectors; centroids derive from the base
    // corpus and are FROZEN for the life of the index
    Knn.buildIvfIndex(e.filter(col("vec_id") < 300), "vec_id", "embedding",
      nlist = 16, tableName = "ivf_inc_spec", path = s"$tmp/idx", buckets = 8)
    try {
      // stream the remaining 200 vectors through the append sink in two
      // micro-batches (batch ids 0 and 1 — durable in the checkpoint)
      val late = e.filter(col("vec_id") >= 300)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect().sortBy(_._1)
      val in = MemoryStream[(Long, Array[Float])]
      val q = StreamOps.ivfAppendSink(
        in.toDF().toDF("vec_id", "embedding"), "ivf_inc_spec", deltaPath,
        "vec_id", "embedding",
        checkpoint = tempDir("graft-ivf-inc-ckpt"))
      try {
        late.grouped(100).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
      } finally q.stop()

      val queries = e.filter(col("vec_id") % 50 === 0)
      def probeInc() = Knn.ivfProbeTopKIncremental(
          spark, "ivf_inc_spec", deltaPath, queries, "vec_id", "embedding",
          k = 5, nprobe = 4)
        .select("query_id", "rank", "nbr_id").as[(Long, Int, Long)].collect().toSet
      val incremental = probeInc()

      // late-arrived vectors are both findable and able to query: some
      // neighbor and some query id must come from the delta range, or the
      // equivalence below would be vacuous over the deltas
      assert(incremental.exists(_._3 >= 300), "no delta vector surfaced as a neighbor")
      assert(incremental.exists(_._1 >= 300), "no delta vector acted as a query")

      // equivalence: one-shot rebuild over the FULL corpus with the SAME
      // frozen centroids (the compaction path) must probe identically
      Knn.buildIvfIndex(e, "vec_id", "embedding", nlist = 16,
        tableName = "ivf_inc_rebuild", path = s"$tmp/idx_rebuild", buckets = 8,
        centroids = Some(spark.table("ivf_inc_spec_centroids")))
      val rebuilt = Knn.ivfProbeTopK(
          spark, "ivf_inc_rebuild", queries, "vec_id", "embedding", k = 5, nprobe = 4)
        .select("query_id", "rank", "nbr_id").as[(Long, Int, Long)].collect().toSet
      assert(incremental == rebuilt,
        s"incremental and rebuilt probes disagree: only-inc=${(incremental -- rebuilt).take(5)} " +
          s"only-rebuild=${(rebuilt -- incremental).take(5)}")

      // idempotency: replaying batch 0 (the at-least-once crash case)
      // overwrites its own segment — the index does not grow and the probe
      // is unchanged
      Knn.appendIvfDelta(spark, "ivf_inc_spec", deltaPath,
        spark.createDataset(late.take(100).toSeq).toDF("vec_id", "embedding"),
        "vec_id", "embedding", batchId = 0L)
      val deltaIds = spark.read.parquet(deltaPath)
        .select("nbr_id").as[Long].collect()
      assert(deltaIds.length == 200 && deltaIds.toSet.size == 200,
        s"replay must not duplicate: ${deltaIds.length} rows, ${deltaIds.toSet.size} distinct")
      assert(probeInc() == incremental, "probe changed after an idempotent replay")

      // scan shape: the base arm of the union still bucket-prunes to the
      // probed lists (the delta arm prunes via parquet row-group stats)
      val narrow = Knn.ivfProbeTopKIncremental(spark, "ivf_inc_spec", deltaPath,
        e.filter(col("vec_id") === 0), "vec_id", "embedding", k = 5, nprobe = 1)
      val plan = narrow.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
      assert(sel.isDefined, s"base index scan must stay bucketed under the union, plan:\n$plan")
      assert(sel.get.group(1).toInt < sel.get.group(2).toInt,
        s"union probe must still prune base buckets (read ${sel.get.group(1)} of ${sel.get.group(2)})")
      // compaction (blue/green): fold deltas into a new bucketed index —
      // pure re-bucketing, no re-assignment — and probe with NO delta
      Knn.compactIvfIndex(spark, "ivf_inc_spec", deltaPath,
        newTableName = "ivf_inc_compact", newPath = s"$tmp/idx_compact", buckets = 8)
      val compacted = Knn.ivfProbeTopKIncremental(
          spark, "ivf_inc_compact", s"$tmp/no-such-delta", queries,
          "vec_id", "embedding", k = 5, nprobe = 4)
        .select("query_id", "rank", "nbr_id").as[(Long, Int, Long)].collect().toSet
      assert(compacted == incremental, "compacted index probes differently")
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_inc_spec")
      spark.sql("DROP TABLE IF EXISTS ivf_inc_spec_centroids")
      spark.sql("DROP TABLE IF EXISTS ivf_inc_rebuild")
      spark.sql("DROP TABLE IF EXISTS ivf_inc_rebuild_centroids")
      spark.sql("DROP TABLE IF EXISTS ivf_inc_compact")
      spark.sql("DROP TABLE IF EXISTS ivf_inc_compact_centroids")
    }
  }

  test("codes-only IVF-PQ probe over deltas equals a frozen-centroid rebuild") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir)
    val cb = graft.similarity.Pq.syntheticCodebooks(m = 8, k = 16, w = 8)
    val tmp = tempDir("graft-ivfpq-inc")
    val deltaPath = s"$tmp/delta"
    Knn.buildIvfIndex(e.filter(col("vec_id") < 300), "vec_id", "embedding",
      nlist = 16, tableName = "ivfpq_inc_spec", path = s"$tmp/idx", buckets = 8,
      pqCodebooks = Some(cb))
    try {
      // same codebooks on the append path: delta codes must come from the
      // index's own quantizer or the ADC tables would score garbage
      Knn.appendIvfDelta(spark, "ivfpq_inc_spec", deltaPath,
        e.filter(col("vec_id") >= 300 && col("vec_id") < 400),
        "vec_id", "embedding", batchId = 0L, pqCodebooks = Some(cb))
      Knn.appendIvfDelta(spark, "ivfpq_inc_spec", deltaPath,
        e.filter(col("vec_id") >= 400),
        "vec_id", "embedding", batchId = 1L, pqCodebooks = Some(cb))
      val queries = e.filter(col("vec_id") % 50 === 0)
      val incremental = Knn.ivfPqProbeTopKIncremental(
          spark, "ivfpq_inc_spec", deltaPath, queries, "vec_id", "embedding",
          cb, k = 5, nprobe = 4)
        .select("query_id", "rank", "nbr_id").as[(Long, Int, Long)].collect().toSet
      assert(incremental.exists(_._3 >= 300), "no delta vector surfaced as a neighbor")
      Knn.buildIvfIndex(e, "vec_id", "embedding", nlist = 16,
        tableName = "ivfpq_inc_rebuild", path = s"$tmp/idx_rebuild", buckets = 8,
        pqCodebooks = Some(cb),
        centroids = Some(spark.table("ivfpq_inc_spec_centroids")))
      val rebuilt = Knn.ivfPqProbeTopK(
          spark, "ivfpq_inc_rebuild", queries, "vec_id", "embedding",
          cb, k = 5, nprobe = 4)
        .select("query_id", "rank", "nbr_id").as[(Long, Int, Long)].collect().toSet
      assert(incremental == rebuilt,
        s"IVF-PQ incremental and rebuilt probes disagree: " +
          s"only-inc=${(incremental -- rebuilt).take(5)} only-rebuild=${(rebuilt -- incremental).take(5)}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivfpq_inc_spec")
      spark.sql("DROP TABLE IF EXISTS ivfpq_inc_spec_centroids")
      spark.sql("DROP TABLE IF EXISTS ivfpq_inc_rebuild")
      spark.sql("DROP TABLE IF EXISTS ivfpq_inc_rebuild_centroids")
    }
  }
}
