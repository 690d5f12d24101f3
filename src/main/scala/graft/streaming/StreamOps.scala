package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

/** Structured-Streaming forms of the reference's stateful operators. Batch
  * analogs (same semantics, oracle-checked) live in `graft.operators`; these
  * are the unbounded versions, expressed with watermarks + windows so the
  * state store stays bounded — the property that matters at 100 TB/day:
  * windowed state with a watermark is evicted by Spark automatically, whereas
  * the reference's in-memory maps (`CompactionProcessor.java:88`) are bounded
  * only by linger time and are lost on rebalance.
  */
object StreamOps {

  /** A1 — streaming task compaction: within each linger window, only the
    * last-by-(`tsCol`, tiebreaks) record per key survives; emitted when the
    * watermark closes the window (losers are "completed immediately" in the
    * sense that nothing is retained for them beyond the aggregation cell).
    * Append-mode compatible; one shuffle per window, partial-aggregated
    * map-side like any max_by.
    */
  def compactLatest(
      df: DataFrame,
      keyCols: Seq[Column],
      tsCol: Column,
      lingerWindow: String,
      watermarkDelay: String,
      payload: Seq[Column],
      rankCols: Seq[Column]): DataFrame = {
    // pre-project keys and event time under stable names (shared logic with
    // Compaction.compactBatch) so expression keys and an expression tsCol
    // resolve — withWatermark needs a real column, and the re-select after
    // the agg needs resolvable names
    val keyNames = graft.operators.Compaction.stableNames(keyCols, "__sk")
    val tsName = graft.operators.Compaction.stableNames(Seq(tsCol), "__sts").head
    graft.operators.Compaction.requireFreshNames(
      df, keyCols :+ tsCol, keyNames :+ tsName)
    val projected = (keyCols.zip(keyNames) :+ (tsCol -> tsName))
      .foldLeft(df) { case (d, (c, n)) => d.withColumn(n, c) }
    projected.withWatermark(tsName, watermarkDelay)
      .groupBy((keyNames.map(col) :+ window(col(tsName), lingerWindow).as("win")): _*)
      .agg(max_by(struct(payload: _*), struct(rankCols: _*)).as("__winner"))
      .select((keyNames.map(col) :+ col("win") :+ col("__winner.*")): _*)
  }

  /** A3 — streaming per-key rate accounting: counts per (key, tumbling
    * window); the streaming-native exact form of the reference's windowed key
    * stats. Feed into [[quotaViolators]] for A4.
    */
  def windowedRates(
      df: DataFrame,
      keyCol: Column,
      tsCol: Column,
      windowDur: String,
      watermarkDelay: String): DataFrame = {
    // withWatermark resolves only a real column name — project an expression
    // tsCol (e.g. to_timestamp(...)) under a stable name first, exactly as
    // compactLatest does; for a plain column reference this is a no-op
    val tsName = graft.operators.Compaction.stableNames(Seq(tsCol), "__sts").head
    graft.operators.Compaction.requireFreshNames(df, Seq(tsCol), Seq(tsName))
    df.withColumn(tsName, tsCol)
      .withWatermark(tsName, watermarkDelay)
      .groupBy(window(col(tsName), windowDur).as("win"), keyCol.as("key"))
      .agg(count(lit(1)).as("n"))
  }

  /** A4 — keys at/over quota within their window. */
  def quotaViolators(rates: DataFrame, quota: Long): DataFrame =
    rates.filter(col("n") >= quota).select(col("win"), col("key"), col("n"))

  /** A3 at unbounded key cardinality — ONE CMS sketch per tumbling window as
    * a stateful streaming aggregation (the reference's live quota posture:
    * `PerKeyQuotaManager.java:35-136` keeps a 2-window ring of CMS sketches
    * on the consumer, never a per-key map). The `CmsSketchAgg` buffer rides
    * the state store between micro-batches exactly like dq24's HLL/KMV
    * buffers: per-window state is the fixed `width·depth·8` bytes no matter
    * how many events (or distinct keys) the window sees — the bounded-state
    * replacement for [[windowedRates]] when an exact per-(key, window) count
    * is itself a giant aggregation.
    *
    * Live ≡ batch bit-exactness (StreamSplitFuzzSpec) holds for
    * `conservative = false` (sum updates commute across any micro-batch
    * split); the production default `conservative = true` keeps the CMS
    * upper-bound guarantee but its cells depend on arrival order — same
    * caveat as dq09's registered form, proven in CmsSpec instead.
    */
  def windowedSketchStream(
      df: DataFrame,
      keyCol: Column,
      tsCol: Column,
      windowDur: String,
      watermarkDelay: String,
      width: Int = graft.plans.CmsSketch.DefaultWidth,
      depth: Int = graft.plans.CmsSketch.DefaultDepth,
      conservative: Boolean = true,
      portable: Boolean = false): DataFrame = {
    val tsName = graft.operators.Compaction.stableNames(Seq(tsCol), "__sts").head
    graft.operators.Compaction.requireFreshNames(df, Seq(tsCol), Seq(tsName))
    df.withColumn(tsName, tsCol)
      .withWatermark(tsName, watermarkDelay)
      .groupBy(window(col(tsName), windowDur).as("win"))
      .agg(graft.functions.cms_sketch(
        graft.functions.key_bytes(keyCol), width, depth, conservative, portable).as("sketch"))
  }

  /** Windowed CALIBRATED quality threshold per (tumbling window, group) —
    * the live form of [[graft.quality.Calibrate.calibratedFilter]] (pq57):
    * per window the gate that keeps exactly the top `keepFrac` of scores,
    * derived from the window's own score distribution instead of a frozen
    * constant, so the gate tracks corpus drift window by window.
    *
    * One stateful windowed aggregation builds a fixed-`cells`-bucket score
    * histogram ([[graft.plans.BucketHistAgg]] — `cells`×8 bytes of state
    * per (window, group) at ANY event volume; pq57's distinct-score table
    * would be unbounded state here). Everything after the aggregation is
    * row-local fold arithmetic over that array: `total`, the keep rank
    * `floor((1−keepFrac)·total)`, the smallest cell whose cumulative count
    * exceeds the rank (`cutoff_cell` — the discrete-quantile posture: the
    * cell granularity over-admits inside the boundary cell, never
    * under-admits), and `n_admitted` (rows with cell ≥ cutoff).
    *
    * Scores are expected in [0,1] (the quality-score contract); values are
    * clamped into the cell range, NaN/null carry no ranking signal and are
    * excluded (the pq57 NaN rule). A downstream gate broadcasts the latest
    * per-group `cutoff_cell` and admits rows where
    * `floor(score·cells) ≥ cutoff_cell` — the same shape as
    * [[termDriftAlarm]]'s reference broadcast. In batch (`withWatermark`
    * no-op) the same plan is the exact oracle-checkable form — dq31.
    */
  def windowedCalibratedThreshold(
      df: DataFrame,
      groupCol: Column,
      scoreCol: Column,
      tsCol: Column,
      windowDur: String,
      watermarkDelay: String,
      keepFrac: Double,
      cells: Int = 512): DataFrame = {
    require(keepFrac >= 1e-9 && keepFrac <= 1.0,
      s"keepFrac=$keepFrac must be in [1e-9, 1]")
    val tsName = graft.operators.Compaction.stableNames(Seq(tsCol), "__sts").head
    graft.operators.Compaction.requireFreshNames(df, Seq(tsCol), Seq(tsName))
    val cell = greatest(
      least(floor(scoreCol.cast("double") * cells), lit(cells - 1L)),
      lit(0L)).cast("long")
    // NaN carries no ranking signal and must not land in cell 0 (floor(NaN)
    // evaluates to 0L in Spark, which would inflate total/rank and skew the
    // cutoff); nulls fail the !isnan predicate too, matching BucketHistAgg's
    // null-skip — the same drop rule as top_k_by/perSourceCapStream.
    df.filter(!isnan(scoreCol.cast("double")) && scoreCol.isNotNull)
      .withColumn(tsName, tsCol)
      .withWatermark(tsName, watermarkDelay)
      .select(col(tsName), groupCol.as("group"), cell.as("__cell"))
      .groupBy(window(col(tsName), windowDur).as("win"), col("group"))
      .agg(graft.functions.bucket_hist(col("__cell"), cells).as("hist"))
      .withColumn("total",
        aggregate(col("hist"), lit(0L), (a, x) => a + x))
      .withColumn("__rank",
        floor((lit(1.0) - lit(keepFrac)) * col("total")).cast("long"))
      // one fold finds the cutoff cell and the count strictly below it:
      // cum = running total, cut/below freeze at the first cell whose
      // cumulative count exceeds the rank
      .withColumn("__f", aggregate(
        col("hist"),
        struct(lit(0L).as("cum"), lit(-1L).as("cut"),
          lit(0L).as("i"), lit(0L).as("below")),
        (acc, x) => struct(
          (acc.getField("cum") + x).as("cum"),
          when(acc.getField("cut") >= 0, acc.getField("cut"))
            .when(acc.getField("cum") + x > col("__rank"), acc.getField("i"))
            .otherwise(lit(-1L)).as("cut"),
          (acc.getField("i") + 1).as("i"),
          when(acc.getField("cut") >= 0, acc.getField("below"))
            .when(acc.getField("cum") + x > col("__rank"), acc.getField("cum"))
            .otherwise(lit(0L)).as("below"))))
      .select(col("win.start").as("win_start"), col("group"),
        col("total"),
        col("__f.cut").as("cutoff_cell"),
        (col("total") - col("__f.below")).as("n_admitted"))
  }

  /** Windowed DISTINCT-COUNT sketches per (tumbling window, group): the
    * streaming form of pq81/pq82's corpus sketches. Output per group:
    * `win_start`, `group`, the HLL register summary (`zero_regs`,
    * `harmonic`, `hll_est` — integer-exact, see
    * [[graft.plans.HllSketchAgg]]) and the KMV bottom-k summary
    * (`kmv_size`, `kmv_kth` — the sketch's cardinality and its largest
    * kept hash, from which the standard (k−1)/U(k) estimate derives).
    *
    * Both sketches ride the state store as ONE aggregation: the HLL buffer
    * is m bytes and merges by element max, the KMV buffer is O(k) longs and
    * merges as an ordered set — per (window, group) state is fixed-width
    * regardless of how many events the window sees, the property that
    * replaces `approx_count_distinct`-style full-key state at 100 TB/day.
    * Null keys are dropped up front (no distinct-count signal, the
    * hllRegisters rule). In batch (`withWatermark` no-op) the same plan is
    * the exact oracle-checkable form — dq24.
    */
  def windowedDistinctSketch(
      df: DataFrame,
      groupCol: Column,
      keyCol: Column,
      tsCol: Column,
      windowDur: String,
      watermarkDelay: String,
      m: Int = 256,
      k: Int = 128): DataFrame = {
    val tsName = graft.operators.Compaction.stableNames(Seq(tsCol), "__sts").head
    graft.operators.Compaction.requireFreshNames(df, Seq(tsCol), Seq(tsName))
    val h = graft.functions.TextFunctions.portable_hash(keyCol)
    df.withColumn(tsName, tsCol)
      .withWatermark(tsName, watermarkDelay)
      .select(col(tsName), groupCol.as("group"), h.as("h"))
      .filter(col("h").isNotNull)
      .groupBy(window(col(tsName), windowDur).as("win"), col("group"))
      .agg(
        graft.functions.hll_sketch(col("h"), m).as("hll"),
        graft.functions.bottom_k_distinct(col("h"), k).as("kmv"))
      .select(col("win.start").as("win_start"), col("group"),
        col("hll.zero_regs").as("zero_regs"),
        col("hll.harmonic").as("harmonic"),
        col("hll.est").as("hll_est"),
        size(col("kmv")).as("kmv_size"),
        element_at(col("kmv"), size(col("kmv"))).as("kmv_kth"))
  }

  /** Streaming exact deduplication: first occurrence of each key set wins,
    * duplicates within the watermark horizon are dropped, and state for
    * expired event times is evicted — `dropDuplicatesWithinWatermark` is the
    * bounded-state form (an unbounded `dropDuplicates` would grow state
    * forever at 100 TB/day).
    */
  def dedupeStream(df: DataFrame, keyCols: Seq[String], tsCol: String, watermarkDelay: String): DataFrame =
    dedupeBounded(df, tsCol, watermarkDelay, keyCols)

  /** Watermark-bounded dedup with a batch fallback: on a stream this is the
    * evictable-state `dropDuplicatesWithinWatermark`; on a batch frame (the
    * dq16/dq17 oracle path and any backfill reusing the streaming pipeline)
    * Spark rejects that operator outright, and the SAME relation is a plain
    * `dropDuplicates` — a bounded batch has no unbounded-state hazard and
    * every event is inside any watermark horizon.
    */
  private def dedupeBounded(
      df: DataFrame, tsCol: String, watermarkDelay: String,
      keyCols: Seq[String]): DataFrame =
    if (df.isStreaming)
      df.withWatermark(tsCol, watermarkDelay)
        .dropDuplicatesWithinWatermark(keyCols)
    else df.dropDuplicates(keyCols)

  /** Streaming NEAR-dup suppression by signature equality: each document's
    * full k-component minhash signature becomes its dedup key, so documents
    * whose signatures collide entirely (exact dups and heavy near-dups —
    * one signature survives shingle-level edits with probability
    * Jaccard^k) are dropped after the first arrival. Row-local signature
    * compute (one native expression) + the built-in watermark-bounded
    * dedup state — no shuffle beyond the dedup's own key exchange, state
    * evicted by event time.
    *
    * This is deliberately the SIGNATURE-EXACT tier: banded multi-probe
    * near-dup (catching pairs that share only some bands) needs cross-key
    * coordination per document, which is a batch join shape — use
    * [[flagAgainstLshIndex]] for the streaming form of that (new docs
    * checked against an indexed historical corpus).
    */
  def nearDedupeStreamBySignature(
      df: DataFrame,
      textCol: Column,
      tsCol: String,
      watermarkDelay: String,
      k: Int = 16,
      shingleSize: Int = 5): DataFrame =
    df.withColumn("__sig", graft.functions.minhash_sigs(textCol, shingleSize, k))
      .filter(col("__sig").isNotNull) // null text drops, like the batch path
      .withColumn("__sig_key",
        md5(array_join(transform(col("__sig"), _.cast("string")), ",")))
      .transform(dedupeBounded(_, tsCol, watermarkDelay, Seq("__sig_key")))
      .drop("__sig", "__sig_key")

  /** Online near-dup check of a STREAM against an indexed static corpus:
    * each arriving document's LSH band signatures (row-local, same k/bands
    * family as the batch pq03 pipeline) stream-static SEMI-join the index
    * — one row out per (doc, colliding band) — then collapse to one flag
    * per document via watermark-bounded dedup on the id. The index side is
    * a plain DataFrame ([[graft.dedup.Dedup.lshBandSignaturesWide]] over
    * the historical corpus), re-resolved per micro-batch exactly like any
    * stream-static join, so rebuilding the index file picks up new history
    * without restarting the query.
    *
    * Scale shape: band signatures shuffle on (band, band_sig) to meet the
    * index (or broadcast when the index is small); per-batch volume is the
    * micro-batch × bands, never the corpus. Returns (id, tsCol) of flagged
    * documents.
    */
  def flagAgainstLshIndex(
      stream: DataFrame,
      idCol: Column,
      textCol: Column,
      tsCol: String,
      watermarkDelay: String,
      index: DataFrame,
      k: Int = 16,
      bands: Int = 4,
      shingleSize: Int = 5): DataFrame = {
    val wide = stream
      .select(idCol.as("id"), col(tsCol).as("__ts"),
        graft.functions.minhash_sigs(textCol, shingleSize, k).as("__mh"))
      .filter(col("__mh").isNotNull)
      .select(col("id") +: col("__ts") +:
        (0 until k).map(i => col("__mh")(i).as(s"mh$i")): _*)
    graft.dedup.Dedup.lshBandSignaturesWide(wide, k, bands, carry = Seq("__ts"))
      .join(index.select(col("band"), col("band_sig")), Seq("band", "band_sig"), "left_semi")
      .transform(dedupeBounded(_, "__ts", watermarkDelay, Seq("id")))
      .select(col("id"), col("__ts").as(tsCol))
  }

  /** Streaming term-distribution drift alarm: per event-time window, the
    * smoothed KL of the window's hashed-term histogram against a reference
    * histogram — the live form of the pq63 monitor (a feed that silently
    * changes trips it within one window + watermark delay). Terms hash to
    * `nBuckets` cells, so ONE stateful windowed aggregation
    * ([[graft.plans.BucketHistAgg]] — a per-term groupBy would chain two
    * stateful operators and hold unbounded vocabulary in the store)
    * produces the whole distribution; the KL folds row-locally against the
    * reference literal with every per-cell log frozen to an integer, so
    * the batch form is hash-exact (dq19).
    *
    * Output per closed window: `(w_start, w_end, n_tokens, kl_fp)` with
    * `kl_fp = Σ_cells (a+1)·round(1e6·ln((a+1)/(b+1)))` — the
    * add-one-smoothed, 1e-6-frozen KL numerator (unnormalized by design:
    * integers compare across windows of equal token budget, and the
    * caller divides by `n_tokens + nBuckets` for the nat-scaled value).
    */
  def termDriftAlarm(
      stream: DataFrame,
      textCol: Column,
      tsCol: String,
      watermarkDelay: String,
      windowDuration: String,
      refHist: Seq[Long],
      nBuckets: Int): DataFrame = {
    require(refHist.size == nBuckets, s"refHist size ${refHist.size} != nBuckets $nBuckets")
    klAgainst(
      windowedHist(stream, textCol, tsCol, watermarkDelay, windowDuration, nBuckets),
      refHist)
  }

  /** The stateful half of [[termDriftAlarm]]: per event-time window, the
    * `nBuckets`-cell hashed-term histogram (`__w`, `h`).
    */
  private def windowedHist(
      stream: DataFrame,
      textCol: Column,
      tsCol: String,
      watermarkDelay: String,
      windowDuration: String,
      nBuckets: Int): DataFrame = {
    val base = stream
      .select(col(tsCol).as("__ts"), explode(split(textCol, " ")).as("__tok"))
      .select(col("__ts"), pmod(
        graft.functions.TextFunctions.portable_hash(col("__tok")),
        lit(nBuckets.toLong)).as("__b"))
    (if (stream.isStreaming) base.withWatermark("__ts", watermarkDelay) else base)
      .groupBy(window(col("__ts"), windowDuration).as("__w"))
      .agg(graft.functions.bucket_hist(col("__b"), nBuckets).as("h"))
  }

  /** The row-local half: fold a window histogram against a reference
    * literal into the frozen-integer KL numerator.
    */
  private def klAgainst(windowed: DataFrame, refHist: Seq[Long]): DataFrame = {
    val refLit = typedLit(refHist)
    windowed.select(
      col("__w.start").as("w_start"), col("__w.end").as("w_end"),
      aggregate(col("h"), lit(0L), _ + _).as("n_tokens"),
      aggregate(zip_with(col("h"), refLit, (a, b) =>
          (a + 1) * round(lit(1e6) * log((a + 1).cast("double") / (b + 1).cast("double")))
            .cast("long")),
        lit(0L), _ + _).as("kl_fp"))
  }

  /** [[termDriftAlarm]] with a SLOW-CADENCE REFERENCE REFRESH — the
    * production monitor posture: a corpus's vocabulary drifts legitimately
    * over weeks, so the reference histogram must periodically catch up or
    * every alarm eventually becomes a false positive. The stateful windowed
    * histogram stays in the streaming plan (checkpointed, watermark-
    * bounded); the row-local KL fold moves into foreachBatch, where every
    * `refreshEveryBatches` micro-batches the reference is re-resolved from
    * `refProvider` (e.g. a fresh [[termBucketHist]] census of the trusted
    * corpus) and enters that batch's plan as a NEW literal — the
    * trigger-boundary re-broadcast pattern the property registry already
    * uses (`config.DynamicProperty`). An alarm raised against a stale
    * reference CLEARS once the reference catches up
    * (StreamingPipelineSpec).
    *
    * `sink` receives each micro-batch's closed windows as
    * `(w_start, w_end, n_tokens, kl_fp)` — same schema as the static form.
    */
  def termDriftAlarmRefreshed(
      stream: DataFrame,
      textCol: Column,
      tsCol: String,
      watermarkDelay: String,
      windowDuration: String,
      refProvider: () => Seq[Long],
      refreshEveryBatches: Int,
      nBuckets: Int,
      checkpointDir: String,
      queryName: String)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    require(refreshEveryBatches >= 1, s"refreshEveryBatches=$refreshEveryBatches must be >= 1")
    val windowed = windowedHist(stream, textCol, tsCol, watermarkDelay, windowDuration, nBuckets)
    var cachedRef: Seq[Long] = null
    windowed.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append") // closed windows only — an alarm is final per window
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (cachedRef == null || batchId % refreshEveryBatches == 0) {
          cachedRef = refProvider()
          require(cachedRef.size == nBuckets,
            s"refProvider returned ${cachedRef.size} cells, expected $nBuckets")
        }
        sink(klAgainst(batch, cachedRef))
      }
      .start()
  }

  /** The reference histogram for [[termDriftAlarm]], computed from a batch
    * frame (driver-resident: `nBuckets` longs).
    */
  def termBucketHist(df: DataFrame, textCol: Column, nBuckets: Int): Seq[Long] = {
    df.select(explode(split(textCol, " ")).as("__tok"))
      .select(pmod(graft.functions.TextFunctions.portable_hash(col("__tok")),
        lit(nBuckets.toLong)).as("__b"))
      .agg(graft.functions.bucket_hist(col("__b"), nBuckets).as("h"))
      .head().getSeq[Long](0)
  }

  /** [[termBucketHist]] over several id-prefix slices of the SAME corpus in
    * ONE pass: histogram k = tokens of rows with `idCol < cutoffs(k)`. For
    * dq25's growing trusted-prefix censuses it turns three separate scans
    * (tokenize + hash ×3) into one tokenize + one aggregation with
    * per-cutoff conditional inputs (`bucket_hist` skips
    * the nulls a failed cutoff predicate produces, so each histogram is
    * bit-identical to its standalone form).
    */
  def termBucketHistPrefixes(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      cutoffs: Seq[Long],
      nBuckets: Int): Seq[Seq[Long]] = {
    require(cutoffs.nonEmpty, "termBucketHistPrefixes needs at least one cutoff")
    val bucketed = df
      .select(idCol.as("__id"), explode(split(textCol, " ")).as("__tok"))
      .select(col("__id"),
        pmod(graft.functions.TextFunctions.portable_hash(col("__tok")),
          lit(nBuckets.toLong)).as("__b"))
    val aggs = cutoffs.zipWithIndex.map { case (c, i) =>
      graft.functions.bucket_hist(
        when(col("__id") < lit(c), col("__b")), nBuckets).as(s"h$i")
    }
    val row = bucketed.agg(aggs.head, aggs.tail: _*).head()
    cutoffs.indices.map(i => row.getSeq[Long](i))
  }

  /** Streaming CDC admission against a previous corpus version's artifact
    * — the live half of [[graft.pipeline.Curation.scoreIncremental]]: a
    * re-crawl arrives as a stream, and only documents that are NEW or
    * whose canonical content hash MOVED pass through to the (expensive)
    * scoring stages; unchanged re-deliveries drop at the gate. One
    * stream-static left join on the id against the narrow `(doc_id, ch)`
    * artifact (floats/text of the artifact never load), the change test
    * row-local, admitted ids deduped inside the watermark. The batch form
    * is dq20's oracle.
    */
  def admitChangedAgainstArtifact(
      stream: DataFrame,
      idCol: Column,
      textCol: Column,
      tsCol: String,
      watermarkDelay: String,
      prevArtifact: DataFrame): DataFrame = {
    val cur = stream.select(idCol.as("id"), col(tsCol).as("__ts"),
      md5(graft.dedup.Dedup.canonicalize(textCol)).as("__ch"))
    cur
      .join(prevArtifact.select(col("doc_id").as("id"),
        col("ch").as("__prev_ch")), Seq("id"), "left")
      // null-safe inequality: a known doc whose re-crawled text became
      // null/unhashable IS a content change and must reach scoring — the
      // null-propagating =!= silently dropped it while a NEW null-text doc
      // was admitted, an inconsistent policy
      .filter(col("__prev_ch").isNull || !(col("__prev_ch") <=> col("__ch")))
      .transform(dedupeBounded(_, "__ts", watermarkDelay, Seq("id")))
      .select(col("id"), col("__ts").as(tsCol))
  }

  /** Streaming semantic near-dup flag against a static PQ-code index — the
    * embedding-stream counterpart of [[flagAgainstLshIndex]]: an incoming
    * vector is flagged when ANY of its PQ code bands (contiguous groups of
    * quantization cells, [[graft.similarity.Pq.codeBandSignatures]])
    * collides with the indexed history. Encoding is a pure row-local
    * expression (stream-safe, codebook rides the plan); the check is one
    * stream-static left-semi join on (band, band_sig) — 8-byte keys, the
    * index's float vectors never load; flagged ids dedupe inside the
    * watermark. Batch frames take the same plan with the dedupe reduced to
    * a plain distinct (the dq16/dq17 fallback), which is what dq18
    * oracle-checks.
    */
  def flagAgainstPqIndex(
      stream: DataFrame,
      idCol: Column,
      vecCol: Column,
      tsCol: String,
      watermarkDelay: String,
      index: DataFrame,
      cb: Seq[Seq[Seq[Double]]],
      bands: Int): DataFrame = {
    // the stream side's signatures come from the SAME function that built
    // the index (a hand-copied banding block here could silently diverge —
    // mismatched keys flag nothing, forever)
    val banded = graft.similarity.Pq.codeBandSignatures(
      stream, idCol, vecCol, cb, bands, carry = Seq(col(tsCol).as("__ts")))
    banded
      .join(index.select(col("band"), col("band_sig")), Seq("band", "band_sig"), "left_semi")
      .transform(dedupeBounded(_, "__ts", watermarkDelay, Seq("id")))
      .select(col("id"), col("__ts").as(tsCol))
  }

  /** Streaming near-dup flagging against UNBOUNDED history with BOUNDED
    * state: the watermark flaggers ([[flagAgainstPqIndex]], dq16–18) bound
    * their dedupe window by event time because the state store must stay
    * finite — a duplicate arriving after the watermark passes undetected.
    * This operator instead keeps the history as DISK-resident signature
    * segments (the [[ivfAppendSink]] delta discipline): each micro-batch
    *
    *   1. PQ-band-encodes itself ([[graft.similarity.Pq.codeBandSignatures]]
    *      — the same function that encodes the history, so keys can't
    *      drift),
    *   2. flags ids colliding with any EARLIER row — strictly-earlier
    *      segment (`batch < batchId`, so a checkpoint replay never reads
    *      its own half-written segment), or same batch with a smaller id —
    *   3. appends its own signatures as segment `batch=<batchId>` in
    *      overwrite mode (idempotent under replay).
    *
    * The "earlier" order is (batch, id) — and because within-batch ties
    * break by id and cross-batch by arrival, the flagged set equals the
    * BATCH self-join with `h.id < o.id` under any id-ordered split: the
    * contract is batch-split-INVARIANT, which is what the dq28 oracle and
    * the fuzz spec check. State store holds nothing; history cost is one
    * (id, band, band_sig) parquet row per (row, band) — fixed-width,
    * column-pruned, shared storage, no executor memory — the posture that
    * survives an unbounded stream where even a generous watermark cannot.
    */
  def selfIndexingPqFlagger(
      stream: DataFrame,
      idCol: Column,
      vecCol: Column,
      indexDir: String,
      cb: Seq[Seq[Seq[Double]]],
      bands: Int,
      checkpoint: String,
      compaction: Option[SelfIndexCompaction] = None)(
      onFlagged: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onFlagged(flagAndIndexPqBatch(batch, batchId, idCol, vecCol, indexDir, cb, bands))
        // fold AFTER the flags are consumed: the scheduler's upToBatch
        // contract (strictly below the committed batch) holds because this
        // batch's segment is already written and its flags delivered
        compaction.foreach(_.afterBatch(batch.sparkSession, indexDir, batchId))
        ()
      }.start()

  /** [[selfIndexingPqFlagger]] for TEXT near-dup: the same disk-segment
    * discipline over minhash/LSH band signatures (the dq17 banding — k
    * minhashes, k/bands rows per band) instead of PQ code bands. The
    * training-pipeline flagship: streaming corpus dedup against ALL
    * history, not just the watermark window.
    */
  def selfIndexingLshFlagger(
      stream: DataFrame,
      idCol: Column,
      textCol: Column,
      indexDir: String,
      k: Int,
      bands: Int,
      shingleSize: Int,
      checkpoint: String,
      compaction: Option[SelfIndexCompaction] = None)(
      onFlagged: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onFlagged(flagAndIndexTextBatch(
          batch, batchId, idCol, textCol, indexDir, k, bands, shingleSize))
        compaction.foreach(_.afterBatch(batch.sparkSession, indexDir, batchId))
        ()
      }.start()

  /** One [[selfIndexingLshFlagger]] micro-batch (see
    * [[flagAndIndexPqBatch]] for the replay/backfill contract).
    */
  def flagAndIndexTextBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: Column,
      textCol: Column,
      indexDir: String,
      k: Int,
      bands: Int,
      shingleSize: Int): DataFrame = {
    val wide = batch
      .select(idCol.as("id"),
        graft.functions.minhash_sigs(textCol, shingleSize, k).as("__mh"))
      .filter(col("__mh").isNotNull)
      .select(col("id") +: (0 until k).map(i => col("__mh")(i).as(s"mh$i")): _*)
    flagAndIndexBandedBatch(
      graft.dedup.Dedup.lshBandSignaturesWide(wide, k, bands), batchId, indexDir)
  }

  /** One [[selfIndexingPqFlagger]] micro-batch, exposed so replay
    * idempotency is directly testable and so a BATCH backfill can feed the
    * same index before the stream attaches (use negative batch ids for the
    * backfill — streaming batch ids start at 0). Returns the flagged ids.
    */
  def flagAndIndexPqBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: Column,
      vecCol: Column,
      indexDir: String,
      cb: Seq[Seq[Seq[Double]]],
      bands: Int): DataFrame =
    flagAndIndexBandedBatch(
      graft.similarity.Pq.codeBandSignatures(batch, idCol, vecCol, cb, bands),
      batchId, indexDir)

  /** The banding-agnostic core: `banded` is this batch's (id, band,
    * band_sig) rows from ANY signature family — the caller guarantees the
    * same family encoded the history segments (the two front-ends above
    * guarantee it by construction).
    */
  private[graft] def flagAndIndexBandedBatch(
      bandedPlan: DataFrame,
      batchId: Long,
      indexDir: String): DataFrame = {
    // pin the signatures ONCE: the self-join references the frame twice,
    // the history probe broadcasts it and the segment write persists it —
    // unpinned, the encode subtree (minhash/PQ over the batch's full text/
    // vectors) would re-execute for every consumer, ~4 encoding passes per
    // micro-batch
    val banded = bandedPlan.localCheckpoint()
    val p = java.nio.file.Paths.get(indexDir)
    val hasHistory = java.nio.file.Files.isDirectory(p) && scala.util.Using.resource(
      java.nio.file.Files.list(p))(_.findFirst().isPresent)
    // History check, scale shape: the BATCH side broadcasts (bounded by the
    // source's admission control — maxOffsetsPerTrigger × bands fixed-width
    // rows) and the history side is ONE column-pruned scan of (band,
    // band_sig) per micro-batch with a broadcast hash join — a naive
    // `banded LEFT SEMI history` would instead sort-merge, i.e. SHUFFLE THE
    // WHOLE HISTORY every batch, the thing that dies first at 100 TB.
    // Strictly earlier segments only: a replay of batch N must not collide
    // with its own (possibly half-written) segment.
    val vsHistory =
      if (!hasHistory) None
      else Some(historyCheck(banded, indexDir, batchId))
    // within the batch, earlier = smaller id (the split-invariance tiebreak)
    val vsSelf = banded.as("o")
      .join(banded.select(col("band"), col("band_sig"), col("id").as("h_id")).as("h"),
        Seq("band", "band_sig"))
      .filter(col("h_id") < col("id"))
      .select(col("id"))
    val flagged = vsHistory.fold(vsSelf)(_ unionByName vsSelf).distinct()
    // flags are computed (and must be fully consumed by the caller) before
    // the segment write makes this batch part of history; the write is
    // keyed by the DURABLE batch id — replays overwrite their own segment
    val out = flagged.localCheckpoint()
    // segments sort by band_sig: parquet row-group min/max then prune the
    // history scan under the broadcast join's runtime filtering
    banded.sortWithinPartitions("band_sig")
      .write.mode("overwrite").parquet(s"$indexDir/batch=$batchId")
    out
  }

  /** The batch-vs-history probe of [[flagAndIndexBandedBatch]], exposed so
    * its plan shape is pinned by SelfIndexingFlaggerSpec: broadcast hash
    * join building the batch side, never a history shuffle.
    */
  private[graft] def historyCheck(
      banded: DataFrame, indexDir: String, batchId: Long): DataFrame =
    banded.sparkSession.read.parquet(indexDir)
      .filter(col("batch") < batchId)
      .select(col("band"), col("band_sig"))
      .join(broadcast(banded.select(
        col("band"), col("band_sig"), col("id"))), Seq("band", "band_sig"))
      .select(col("id"))

  /** Fold self-index segments `batch ≤ upToBatch` into the single segment
    * `batch=$upToBatch` and drop the older directories — the small-files
    * bound for a long-lived [[selfIndexingPqFlagger]]/[[selfIndexingLshFlagger]]
    * (one segment per micro-batch, unbounded stream → unbounded file
    * count without this). Semantics are preserved because every reader
    * filters `batch < currentBatchId` and currentBatch > upToBatch by the
    * caller's contract: pass upToBatch STRICTLY below the last committed
    * batch — only the latest batch can replay, and a replaying batch must
    * never find its own rows folded into history. Crash-safe without
    * coordination: the fold is materialized (localCheckpoint) before the
    * overwrite, and a crash between the consolidated write and the old-dir
    * deletes leaves duplicate signatures — harmless, flags are semi-joins —
    * which the idempotent re-run then removes.
    */
  def compactIndexSegments(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      upToBatch: Long): Unit = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(indexDir)
    if (!java.nio.file.Files.isDirectory(p)) return
    val oldDirs = scala.util.Using.resource(java.nio.file.Files.list(p)) { st =>
      st.iterator().asScala.toSeq.filter { d =>
        val n = d.getFileName.toString
        n.startsWith("batch=") &&
          scala.util.Try(n.stripPrefix("batch=").toLong).toOption.exists(_ < upToBatch)
      }
    }
    if (oldDirs.isEmpty) return
    val combined = spark.read.parquet(indexDir)
      .filter(col("batch") <= upToBatch)
      .select(col("id"), col("band"), col("band_sig"))
      .distinct()
      .localCheckpoint() // materialize BEFORE overwriting a source segment
    combined.sortWithinPartitions("band_sig") // keep the row-group pruning sort
      .write.mode("overwrite").parquet(s"$indexDir/batch=$upToBatch")
    oldDirs.foreach { d =>
      scala.util.Using.resource(java.nio.file.Files.walk(d)) { st =>
        st.iterator().asScala.toSeq.sortBy(-_.getNameCount)
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
  }

  /** Effectively-once parquet sink over the engine's at-least-once core:
    * every micro-batch writes to a directory keyed by its STABLE batch id,
    * in overwrite mode — so when the checkpoint replays a batch after a
    * crash (the at-least-once case), the rerun overwrites its own previous
    * output instead of appending a duplicate. Exactly the idempotent-write
    * discipline Decaton delegates to the user (at-least-once only,
    * `docs/why-decaton.adoc`); here it is a one-call upgrade because the
    * batch id is durable in the checkpoint.
    */
  def effectivelyOnceParquet(
      df: DataFrame,
      path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$path/batch=$batchId")
        ()
      }.start()

  /** Incremental ANN maintenance as a stream sink: every micro-batch of
    * arriving vectors is appended to a persisted
    * [[graft.similarity.Knn.buildIvfIndex]] index as a delta segment —
    * centroids frozen, assignment row-local, one segment per DURABLE batch
    * id in overwrite mode, so a checkpoint replay rewrites its own segment
    * instead of duplicating vectors (the [[effectivelyOnceParquet]]
    * discipline applied to index maintenance). Probes pick the deltas up
    * through [[graft.similarity.Knn.ivfProbeTopKIncremental]] with no
    * coordination: a segment becomes visible atomically when its batch
    * directory lands.
    */
  def ivfAppendSink(
      stream: DataFrame,
      tableName: String,
      deltaPath: String,
      idCol: String,
      vecCol: String,
      checkpoint: String,
      pqCodebooks: Option[Seq[Seq[Seq[Double]]]] = None): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.similarity.Knn.appendIvfDelta(
          batch.sparkSession, tableName, deltaPath, batch,
          idCol, vecCol, batchId, pqCodebooks)
        ()
      }.start()

  /** Stream-stream inner join bounded in event time: rows join when keys
    * match AND the right event lies within ±`tolerance` of the left event.
    * Watermarks go on BOTH sides and the join carries the range condition
    * — together they are what lets Spark compute how long each side's
    * state must be retained and evict it; a key-only stream-stream join
    * would buffer both streams forever (the classic unbounded-state
    * mistake this helper exists to prevent). Caller supplies
    * distinctly-named columns on the two sides.
    */
  def timeBoundedJoin(
      left: DataFrame,
      right: DataFrame,
      keyLeft: String,
      keyRight: String,
      tsLeft: String,
      tsRight: String,
      tolerance: String,
      watermarkDelay: String): DataFrame = {
    val l = left.withWatermark(tsLeft, watermarkDelay)
    val r = right.withWatermark(tsRight, watermarkDelay)
    l.join(r,
      col(keyLeft) === col(keyRight) &&
        col(tsRight) >= col(tsLeft) - expr(s"INTERVAL $tolerance") &&
        col(tsRight) <= col(tsLeft) + expr(s"INTERVAL $tolerance"))
  }

  /** Event-time sessionization: gap-based session windows per key — the
    * streaming-native form of the batch q16_sessionize query. Emits one row
    * per closed session (append mode) with its bounds and size; state is
    * evicted by the watermark.
    */
  def sessionized(
      df: DataFrame,
      keyCol: Column,
      tsCol: Column,
      gap: String,
      watermarkDelay: String): DataFrame = {
    // expression tsCol handling: see windowedRates
    val tsName = graft.operators.Compaction.stableNames(Seq(tsCol), "__sts").head
    graft.operators.Compaction.requireFreshNames(df, Seq(tsCol), Seq(tsName))
    df.withColumn(tsName, tsCol)
      .withWatermark(tsName, watermarkDelay)
      .groupBy(session_window(col(tsName), gap).as("session"), keyCol.as("key"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("key"), col("session.start").as("session_start"),
        col("session.end").as("session_end"), col("n_events"))
  }

  /** A2 — size-capped delivery inside foreachBatch: invokes `flush` with
    * groups of at most `capacity` rows per partition per micro-batch; the
    * time dimension of BatchingProcessor's size-OR-time trigger is the
    * trigger interval itself (SURVEY.md §2.4 A2). Runs on executors.
    */
  def flushInBatches(df: DataFrame, capacity: Int)(flush: Seq[Row] => Unit): Unit = {
    // validate on the driver: grouped(0) would otherwise throw inside every
    // task, retried 4x, surfacing as an executor stack trace far from here
    require(capacity >= 1, s"capacity=$capacity must be >= 1")
    df.foreachPartition { (it: Iterator[Row]) =>
      it.grouped(capacity).foreach(g => flush(g))
    }
  }

  /** S5/A4 — two-way route of a micro-batch by shaped-key membership:
    * (compliant, shaped). Call inside foreachBatch and write each side to its
    * topic/sink; the shaped side corresponds to `QuotaApplierImpl.apply`
    * diverting bursting keys.
    */
  def routeByQuota(
      batch: DataFrame,
      keyCol: Column,
      tsCol: Column,
      windowDur: String,
      quota: Long): (DataFrame, DataFrame) = {
    val bad = batch.groupBy(window(tsCol, windowDur), keyCol.as("__k"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= quota)
      .select(col("__k")).distinct()
    routeByKeySet(batch, keyCol, bad)
  }

  /** [[routeByQuota]] with a PER-KEY quota table instead of one global
    * threshold — the robots-driven politeness shape: each key (domain) can
    * carry its own rate (e.g. derived from its robots.txt `Crawl-delay`),
    * keys absent from the table take `defaultQuota`. `quotas` is a
    * 2-column (key, quota) frame; duplicate keys collapse to the MINIMUM
    * quota (most restrictive wins — the polite reading). 100 TB shape:
    * the quota table is authority-scale (thousands of rows) and rides a
    * BROADCAST left join against the per-(window, key) counts — the batch
    * itself still shuffles exactly once for the count, same as the
    * global-threshold form.
    */
  def routeByQuotaTable(
      batch: DataFrame,
      keyCol: Column,
      tsCol: Column,
      windowDur: String,
      quotas: DataFrame,
      defaultQuota: Long): (DataFrame, DataFrame) = {
    val qt = broadcast(
      quotas.toDF("__qk", "__q")
        .groupBy(col("__qk")).agg(min(col("__q")).as("__q")))
    val bad = batch.groupBy(window(tsCol, windowDur), keyCol.as("__k"))
      .agg(count(lit(1)).as("n"))
      .join(qt, col("__k") === col("__qk"), "left")
      .filter(col("n") >= coalesce(col("__q"), lit(defaultQuota)))
      .select(col("__k")).distinct()
    routeByKeySet(batch, keyCol, bad)
  }

  /** [[routeByQuotaSketch]] with a per-key quota table — the sketch
    * decision rule against robots-driven rates: per-window state stays
    * `width·depth·8` bytes, the quota lookup is the same broadcast probe
    * as [[routeByQuotaTable]], applied to the ESTIMATES. Null keys carry
    * no sketch signal and are never shaped (the reference's
    * `PerKeyQuotaManager.record(null)` COMPLY rule).
    */
  def routeByQuotaSketchTable(
      batch: DataFrame,
      keyCol: Column,
      tsCol: Column,
      windowDur: String,
      quotas: DataFrame,
      defaultQuota: Long,
      width: Int = graft.plans.CmsSketch.DefaultWidth,
      depth: Int = graft.plans.CmsSketch.DefaultDepth): (DataFrame, DataFrame) = {
    val sketches = graft.operators.PerKeyQuota.windowedSketch(
      batch, keyCol, tsCol, windowDur, width, depth,
      conservative = false, portable = true)
    val pairs = batch
      .select(window(tsCol, windowDur).as("win"), keyCol.as("__k"))
      .filter(col("__k").isNotNull)
      .distinct()
    val qt = broadcast(
      quotas.toDF("__qk", "__q")
        .groupBy(col("__qk")).agg(min(col("__q")).as("__q")))
    val bad = graft.operators.PerKeyQuota.estimatesPortableByCellJoin(
        sketches, pairs, col("__k"), width, depth)
      .join(qt, col("__k") === col("__qk"), "left")
      .filter(col("est_n") >= coalesce(col("__q"), lit(defaultQuota)))
      .select(col("__k")).distinct()
    routeByKeySet(batch, keyCol, bad)
  }

  /** [[routeByQuota]] with the shaping decision taken from the CMS sketch
    * ESTIMATE instead of an exact per-key count — the reference's actual
    * decision rule (`PerKeyQuotaManager.java:112-135` shapes on estimated
    * rate >= quota; `QuotaApplierImpl.java:56-114` diverts). The batch
    * sketches once per window ([[graft.operators.PerKeyQuota.windowedSketch]],
    * portable sum form so the decision is order-independent and
    * oracle-replayable — dq26), estimates every active (window, key) pair by
    * the zero-copy cell join, and shapes every key whose estimate reaches
    * `quota` in ANY window of the batch. CMS estimates only over-count, so
    * over NON-NULL keys the shaped set is a superset of the exact
    * [[routeByQuota]] rule's: a violator is never let through, an occasional
    * colliding key is shaped early — the documented trade for per-window
    * state that is `width·depth·8` bytes instead of a per-key map, which is
    * what survives an unbounded key space at 100 TB/day. NULL keys are the
    * one divergence from [[routeByQuota]]: they carry no sketch signal and
    * are never shaped here, which matches the reference —
    * `PerKeyQuotaManager.record(null)` returns COMPLY — while the exact path
    * shapes a bursting null-key group via its null-safe join.
    */
  def routeByQuotaSketch(
      batch: DataFrame,
      keyCol: Column,
      tsCol: Column,
      windowDur: String,
      quota: Long,
      width: Int = graft.plans.CmsSketch.DefaultWidth,
      depth: Int = graft.plans.CmsSketch.DefaultDepth): (DataFrame, DataFrame) = {
    val sketches = graft.operators.PerKeyQuota.windowedSketch(
      batch, keyCol, tsCol, windowDur, width, depth,
      conservative = false, portable = true)
    // the active pairs are the estimate PROBES, not a rate table: distinct
    // (win, key) — one row per pair regardless of how hot the key is
    val pairs = batch
      .select(window(tsCol, windowDur).as("win"), keyCol.as("__k"))
      .filter(col("__k").isNotNull) // a null key has no sketch signal: never shaped
      .distinct()
    val bad = graft.operators.PerKeyQuota.estimatesPortableByCellJoin(
        sketches, pairs, col("__k"), width, depth)
      .filter(col("est_n") >= quota)
      .select(col("__k")).distinct()
    routeByKeySet(batch, keyCol, bad)
  }

  /** Shared routing tail: split `batch` by membership of `keyCol` in `bad`
    * (single `__k` column). The two sides are written as SEPARATE actions
    * inside foreachBatch, and exchange reuse never spans two plans — a live
    * `bad` would re-scan and re-aggregate the whole micro-batch once per
    * side. The violator set is broadcast anyway (same size class as a
    * driver copy), so compute it ONCE here and rebuild it as a local
    * relation.
    */
  private def routeByKeySet(
      batch: DataFrame, keyCol: Column, bad: DataFrame): (DataFrame, DataFrame) = {
    val badRows = bad.collect()
    val badLocal = batch.sparkSession.createDataFrame(
      java.util.Arrays.asList(badRows: _*), bad.schema)
    // null-safe equality: a bursting NULL-key group must route to shaping
    // like any other hot key (plain === never matches null)
    val shaped = batch.join(broadcast(badLocal), keyCol <=> col("__k"), "left_semi")
    val ok = batch.join(broadcast(badLocal), keyCol <=> col("__k"), "left_anti")
    (ok, shaped)
  }
}
