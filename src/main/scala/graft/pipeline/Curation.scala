package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.sampling.Sampling

/** The end-to-end corpus-curation pipeline — the flagship composition of the
  * training-data operators: exact dedup → integer quality gates → stratified
  * mixing sample, in one declarative plan. A user pointing this at a raw
  * crawl gets back the training mix; every stage is the library operator it
  * is built from, so each stage's scale shape is the one already audited.
  *
  * 100 TB shape, stage by stage:
  *   1. exact dedup: one partial-agg shuffle on the 128-bit content hash to
  *      pick each group's keeper (min id), then a join of the corpus against
  *      the keeper set on (hash, id) — both sides hash-partitioned by the
  *      join key, no text moves (the hash stands in for it).
  *   2. quality gates: row-local integer metrics (token counts, distinct
  *      ratio via cross-multiplication) — no shuffle, pushdown-friendly.
  *   3. mixing sample: row-local hash threshold per stratum — no shuffle.
  * Net: the whole pipeline costs ONE repartition-sized shuffle over hashes
  * plus a co-partitioned join; text is only read, never shuffled.
  */
object Curation {

  /** Handle over the stage-boundary caches one pipeline invocation created:
    * each stage's persisted frame and the RDD of its local checkpoint.
    * Both are held STRONGLY and deliberately so: the SQL `CacheManager`
    * pins every cached plan until an explicit `unpersist`/`clearCache` — a
    * weak reference here would let GC collect the only wrapper able to
    * unpersist while the cache entry itself lives on, turning a bounded
    * leak into an unreleasable one. The lifecycle answer is scoping, not
    * reference strength: each invocation's caches live on their own handle
    * and die at its [[release]].
    */
  final class StageCacheHandle private[Curation] () {
    private val frames = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    private val checkpoints =
      new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[_]]()
    private[Curation] def add(df: DataFrame): Unit = frames.add(df)
    private[Curation] def add(rdd: org.apache.spark.rdd.RDD[_]): Unit = checkpoints.add(rdd)
    /** Unpersist every frame and checkpoint this handle tracked (idempotent). */
    def release(blocking: Boolean = false): Unit = {
      var df = frames.poll()
      while (df != null) { df.unpersist(blocking); df = frames.poll() }
      var rdd = checkpoints.poll()
      while (rdd != null) { rdd.unpersist(blocking); rdd = checkpoints.poll() }
    }
  }

  /** Stage-boundary caches created by the mix pipelines ([[mixFromScored]],
    * [[scrubAndMix]], the [[curateTrainingMix]] tail). The persists are the
    * RIGHT plan — without them every downstream consumer re-executes the
    * scrub/score chain — but a long-lived session running many pipeline
    * invocations would otherwise accumulate cached blocks indefinitely.
    * Callers own the lifecycle: materialize the pipeline result, then call
    * [[releaseStageCaches]], or — when pipelines run concurrently in one
    * session — build inside [[scopedStageCaches]] and release the returned
    * handle, so one caller's release can never unpersist frames another
    * invocation is still consuming.
    */
  private val globalStageCaches = new StageCacheHandle()

  private val currentScope =
    new scala.util.DynamicVariable[StageCacheHandle](globalStageCaches)

  private[pipeline] def persistStage(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    currentScope.value.add(p)
    // ALSO truncate the downstream logical plan at the stage boundary with
    // a LAZY local checkpoint. The persist alone is the right execution
    // plan (consumers share one materialization, and repeated invocations
    // in a session hit the same cache entry), but every consumer Dataset
    // would still CARRY the whole upstream tree through analysis, and
    // DeduplicateRelations + checkAnalysis are quadratic in tree size for
    // self-joining plans. The checkpoint replaces the tree with a
    // LogicalRDD over the persisted stage: downstream analysis cost
    // collapses, nothing runs until the first consumer, within-invocation
    // consumers share the checkpointed blocks, and across invocations the
    // scan underneath still hits the persisted cache. Its blocks belong to
    // the invocation, so the handle releases them with the persist.
    val cp = p.localCheckpoint(eager = false)
    currentScope.value.add(
      cp.queryExecution.logical.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd)
    cp
  }

  /** Build a pipeline plan with its stage caches registered to a PRIVATE
    * handle instead of the global registry: `val (mix, caches) =
    * scopedStageCaches(mixFromScored(...))`, materialize `mix`, then
    * `caches.release()`. Scoping is per-thread for the duration of `f` —
    * the plan is built (and its stages persisted) inside `f`, so every
    * persist lands on the returned handle.
    */
  def scopedStageCaches[T](f: => T): (T, StageCacheHandle) = {
    val h = new StageCacheHandle()
    try (currentScope.withValue(h)(f), h)
    catch {
      case t: Throwable =>
        // a builder that throws after persisting a stage would otherwise
        // strand those frames on an unreachable handle — the unreleasable
        // leak the handle exists to prevent
        h.release()
        throw t
    }
  }

  /** Unpersist every unscoped stage-boundary cache created since the last
    * release. Frames built under [[scopedStageCaches]] are not touched.
    */
  def releaseStageCaches(blocking: Boolean = false): Unit =
    globalStageCaches.release(blocking)

  /** Curate `df`: drop exact duplicates (keep the min-id copy), keep docs
    * with `minTokens <= n_tokens <= maxTokens` and at least
    * `minDistinctPct`% distinct tokens, then sample per-stratum at
    * `ratesPerMille` (by each row's own id hash; `defaultPerMille`
    * elsewhere). Output: one row per kept doc with its integer quality
    * metrics and sample bucket.
    */
  def curate(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      strataCol: Column,
      minTokens: Int,
      maxTokens: Int,
      minDistinctPct: Int,
      ratesPerMille: Map[String, Int],
      defaultPerMille: Int): DataFrame = {
    val base = df.select(
      idCol.as("doc_id"), strataCol.as("stratum"),
      md5(textCol).as("content_hash"),
      TextFunctions.token_count(textCol).as("n_tokens"),
      size(array_distinct(TextFunctions.tokens(textCol))).as("n_distinct_tokens"))
    val keepers = base
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
    // null-text rows have a null hash: they drop HERE (null join keys never
    // match) rather than at the token gates — identical to the SQL oracle's
    // null-key join semantics, so the two sides agree by construction
    val deduped = base.join(keepers, Seq("content_hash", "doc_id"))
    val gated = deduped
      .filter(col("n_tokens").between(minTokens, maxTokens))
      // distinct-ratio gate in integer cross-multiplication (no float
      // drift); LONG arithmetic — the int form wraps for docs past ~21.4M
      // tokens (filterFunnel's cast pattern)
      .filter(col("n_distinct_tokens").cast("long") * 100 >=
        col("n_tokens").cast("long") * minDistinctPct)
    Sampling.stratifiedByHash(
        gated, col("doc_id"), col("stratum"), ratesPerMille, defaultPerMille)
      .select(col("doc_id"), col("stratum"), col("n_tokens"),
        col("n_distinct_tokens"), col("sample_bucket"))
  }

  /** Filter-attrition funnel: for each stratum, how many documents survive
    * each quality rule CUMULATIVELY — the report a pipeline operator reads
    * before committing to a filter chain (which rule is doing the cutting,
    * and on which language/source). Rules, applied in order:
    *   1. token count in `[minTokens, maxTokens]`;
    *   2. distinct-token ratio ≥ `minDistinctPct`% (cross-multiplied);
    *   3. mean word length in `[minMeanWordLen, maxMeanWordLen]` — computed
    *      as total non-space chars vs token count, cross-multiplied, so the
    *      whole funnel stays in integers and the oracle hash-matches.
    * Every metric is row-local array/length arithmetic; the funnel itself is
    * ONE map-side-combinable aggregation to strata cardinality (~10–100
    * rows). The corpus is scanned once and never shuffled.
    */
  /** Per-source document cap (RefinedWeb-style "domain cap"): within each
    * `groupCol` bucket keep at most `cap` documents, ranked by `scoreCol`
    * descending (ties broken by ascending id). Output: one row per kept doc
    * with its 1-based rank inside the source plus the source's total count.
    *
    * 100 TB shape: this is NOT a window sort. Each source's candidates are
    * folded into a bounded `top_k_by` heap (`graft.plans.TopKByScoreAgg`) —
    * partial heaps merge map-side, so the only exchange carries one
    * `cap`-sized buffer per source, never the documents. A hot source (the
    * usual crawl skew: one domain = 10% of the corpus) costs its reducer a
    * single bounded heap, not a sorted partition of every row.
    *
    * NaN posture (pinned in CurationOpsSpec): a NaN score carries no ranking
    * signal — the heap ignores NaN rows, so they are never admitted, but
    * they DO count in `n_total` (they are documents the source contributed).
    * A source whose every score is NaN has an empty heap and yields no
    * output rows (posexplode of an empty array) — same as a source with no
    * documents at all.
    */
  private def requireIntegralId(df: DataFrame, idCol: Column, op: String): Unit =
    graft.functions.requireIntegralId(df, idCol, op)

  def perSourceCap(
      df: DataFrame,
      idCol: Column,
      groupCol: Column,
      scoreCol: Column,
      cap: Int): DataFrame = {
    requireIntegralId(df, idCol, "perSourceCap")
    df.select(groupCol.as("source"), idCol.as("id"),
        scoreCol.cast("double").as("s"))
      .groupBy(col("source"))
      .agg(
        graft.functions.top_k_by(col("s"), col("id"), cap).as("kept"),
        count(lit(1)).as("n_total"))
      .select(col("source"), col("n_total"),
        posexplode(col("kept")).as(Seq("i", "x")))
      .select(col("source"), (col("i") + 1).cast("int").as("rank"),
        col("x.id").as("doc_id"), col("x.score").as("score"), col("n_total"))
  }

  /** The flagship end-to-end composition, round 9: canonical-exact dedup →
    * corpus-calibrated quality gate → per-source cap → temperature mix, as
    * ONE declarative plan. A user points this at a raw crawl and gets the
    * training mix; every stage is the library operator it is built from
    * (pq28 / pq57 / pq55 / pq52), so each stage's scale shape is the one
    * already audited:
    *   1. dedup: one partial-agg shuffle on the canonical 128-bit hash +
    *      a co-keyed (hash, id) join — text never shuffles;
    *   2. gate: score-histogram shuffle, cumulative window over DISTINCT
    *      scores only, threshold broadcast back;
    *   3. cap: one bounded `top_k_by` heap buffer per source on the wire;
    *   4. mix: stratum census agg, integer-exact rates broadcast back,
    *      keep decided row-locally by the row's own id hash.
    * Output: one row per sampled doc with its provenance (rank inside its
    * source, calibrated score, stratum rate).
    */
  def curateTrainingMix(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      sourceCol: Column,
      strataCol: Column,
      keepFrac: Double,
      cap: Int,
      alpha: String,
      budget: Long): DataFrame = {
    val base = df.select(idCol.as("doc_id"), sourceCol.as("source"),
      strataCol.as("stratum"), textCol.as("text"))
    val withCh = base.withColumn("ch",
      md5(graft.dedup.Dedup.canonicalize(col("text"))))
    val keepers = withCh.groupBy(col("ch")).agg(min(col("doc_id")).as("doc_id"))
    val deduped = withCh.join(keepers, Seq("ch", "doc_id"))
    val scored = deduped.select(col("doc_id"), col("source"), col("stratum"),
      TextFunctions.quality_score(col("text")).as("score"))
    mixStages(scored, keepFrac, cap, alpha, budget)
  }

  /** Calibrated gate → per-source cap → temperature mix over a post-dedup
    * scored table `(doc_id, source, stratum, score)` — the shared tail of
    * [[curateTrainingMix]] and [[mixFromScored]].
    */
  private def mixStages(
      scoredIn: DataFrame,
      keepFrac: Double,
      cap: Int,
      alpha: String,
      budget: Long): DataFrame = {
    // Materialize the scored table ONCE: four consumers follow (calibration
    // histogram, gate re-scan, cap heap, cut admission), and without a
    // materialization each one re-executes the upstream dedup-join +
    // text-scoring chain — the dominant cost. The cached projection is
    // narrow (ids + integer score, no text), the standard stage boundary of
    // a production curation pipeline; MEMORY_AND_DISK spills, never OOMs.
    requireIntegralId(scoredIn, col("doc_id"), "mixStages")
    val scored = persistStage(scoredIn)
    // NaN scores must not reach the cap: the heap excludes NaN (TopKAgg's
    // rule) but Spark's NaN-is-greatest comparison would ADMIT NaN rows past
    // the broadcast cut below — cap membership and cut admission would
    // diverge, and an all-NaN source would leave an empty kept array for
    // element_at. A NaN score carries no ranking signal; drop it here.
    val gated = graft.quality.Calibrate
      .calibratedFilter(scored, col("score"), keepFrac)
      .filter(!isnan(col("score")))
    // cap WITHOUT re-joining the heavy gated subtree for its payload: the
    // heap's weakest admitted element per source is a CUT (score, id) —
    // broadcast the cuts and admit row-locally (identical membership: row r
    // is in the top-cap iff r beats-or-equals the cap-th element in the
    // (score desc, id asc) order). One fewer evaluation of the dedup+score
    // chain and no sort-merge join of capped against gated.
    val heap = gated.groupBy(col("source"))
      .agg(graft.functions.top_k_by(col("score"), col("doc_id"), cap).as("kept"))
    val cut = heap.select(col("source"),
      element_at(col("kept"), size(col("kept"))).as("t"))
    val admitted = gated.join(broadcast(cut), "source")
      .filter(col("score") > col("t.score") ||
        (col("score") === col("t.score") && col("doc_id") <= col("t.id")))
      .drop("t")
    // ranks over the admitted residue only (≤ sources×cap rows)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("score").desc, col("doc_id").asc)
    val ranked = admitted.withColumn("rank", row_number().over(w).cast("int"))
    Sampling.temperatureMixByHash(
        ranked, col("doc_id"), col("stratum"), alpha, budget)
      .select(col("doc_id"), col("source"), col("stratum"), col("rank"),
        col("score"), col("rate_pm"), col("sample_bucket"))
  }

  /** The persistable SCORE ARTIFACT of a corpus version: one row per raw
    * (pre-dedup) document — `(doc_id, source, stratum, ch, score)` with `ch`
    * the canonical 128-bit content hash and `score` the (expensive) quality
    * score. This is the table an incremental pipeline keeps between corpus
    * versions: the hash detects content change, the score is what reuse
    * saves. `scorer` defaults to the library quality score but is pluggable
    * — in production it is a classifier inference pass, which is exactly why
    * re-scoring unchanged documents is the cost worth engineering away.
    */
  def scoreCorpus(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      sourceCol: Column,
      strataCol: Column,
      scorer: Column => Column = TextFunctions.quality_score): DataFrame =
    df.select(idCol.as("doc_id"), sourceCol.as("source"),
        strataCol.as("stratum"), textCol.as("text"))
      .select(col("doc_id"), col("source"), col("stratum"),
        md5(graft.dedup.Dedup.canonicalize(col("text"))).as("ch"),
        scorer(col("text")).as("score"))

  /** Score corpus version N against version N-1's score artifact, paying
    * the scorer ONLY for added/changed documents. A left join on `doc_id`
    * brings the previous `(ch, score)`; rows whose content hash matches
    * reuse the stored score, the rest evaluate `scorer` (Spark's `when`
    * short-circuits per row in codegen, so unchanged rows never run the
    * scorer). Output schema = [[scoreCorpus]], and — because the scorer is
    * deterministic in the text — the output is ROW-IDENTICAL to
    * `scoreCorpus(dfNew)`: incremental is an optimization, never a drift
    * (CurationOpsSpec proves both the equivalence and, via a poisoned
    * scorer, that unchanged rows truly take the reuse branch).
    *
    * 100 TB shape: one co-partitioned id join of the new corpus against the
    * narrow artifact (store both bucketed by id for zero Exchange —
    * [[graft.sources.Bucketing]]); the scorer cost scales with the CHANGE
    * rate, not the corpus. Removed documents fall out naturally (left
    * join), added ones have a null previous hash and get scored.
    */
  def scoreIncremental(
      prevScored: DataFrame,
      dfNew: DataFrame,
      idCol: Column,
      textCol: Column,
      sourceCol: Column,
      strataCol: Column,
      scorer: Column => Column = TextFunctions.quality_score): DataFrame =
    dfNew.select(idCol.as("doc_id"), sourceCol.as("source"),
        strataCol.as("stratum"), textCol.as("text"))
      .withColumn("ch", md5(graft.dedup.Dedup.canonicalize(col("text"))))
      .join(prevScored.select(col("doc_id"), col("ch").as("__prev_ch"),
        col("score").as("__prev_score")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("stratum"), col("ch"),
        when(col("__prev_ch") === col("ch"), col("__prev_score"))
          .otherwise(scorer(col("text"))).as("score"))

  /** [[curateTrainingMix]] from a score artifact instead of raw text: elect
    * canonical-dedup keepers on the artifact's own `(ch, doc_id)` — no text
    * read at all — then run the calibrated gate → cap → mix tail. Feeding
    * it [[scoreIncremental]]'s output is the incremental form of the
    * flagship pipeline, and its result is row-identical to running
    * [[curateTrainingMix]] on the full new corpus: all global decisions
    * (dedup election, calibration threshold, cap cuts, census rates) are
    * recomputed on the cheap narrow table, so incrementality saves the
    * scorer without ever approximating the output.
    */
  def mixFromScored(
      scored: DataFrame,
      keepFrac: Double,
      cap: Int,
      alpha: String,
      budget: Long): DataFrame = {
    // the election and the keeper join both consume the artifact; when it
    // arrives as a live incremental plan (not a table read), materialize it
    // so the scorer's work is never repeated
    val art = persistStage(scored)
    val keepers = art.groupBy(col("ch")).agg(min(col("doc_id")).as("doc_id"))
    val deduped = art.join(keepers, Seq("ch", "doc_id"))
      .select(col("doc_id"), col("source"), col("stratum"), col("score"))
    mixStages(deduped, keepFrac, cap, alpha, budget)
  }

  /** The round-9 flagship: SCRUB then mix — intra-document repetition
    * removal → corpus-wide duplicated-span removal (Lee et al.) →
    * [[curateTrainingMix]] (canonical dedup → calibrated gate → per-source
    * cap → temperature mix), one plan, hash-checked END TO END against an
    * oracle that chains all six stage oracles as CTEs. This is the
    * crawl-to-training-mix path a production corpus actually runs: clean
    * inside documents first, then dedup/select across them.
    *
    * 100 TB shape: stage 1 is row-local; stage 2 adds the gram election
    * partial-agg + affected-position shuffles; the mix stages run on the
    * scrubbed text with their already-audited shapes (narrow scored table
    * materialized once, cut-admission cap, census rates broadcast).
    */
  def scrubAndMix(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      sourceCol: Column,
      strataCol: Column,
      segTokens: Int,
      spanTokens: Int,
      keepFrac: Double,
      cap: Int,
      alpha: String,
      budget: Long): DataFrame = {
    val base = df.select(idCol.as("doc_id"), sourceCol.as("source"),
      strataCol.as("stratum"), textCol.as("text"))
    val meta = base.select(col("doc_id"), col("source"), col("stratum"))
    val rep = TextFunctions.dropRepeatedSegments(
        base, col("doc_id"), col("text"), segTokens)
      .select(col("doc_id"), col("text_clean").as("text"))
    val spans = graft.dedup.Dedup.removeDuplicatedSpans(
        rep, col("doc_id"), col("text"), spanTokens)
      // a fully-scrubbed doc (an exact copy) has nothing left to train on —
      // and nothing the quality score could divide by
      .filter(length(col("text_clean")) > 0)
      .select(col("doc_id"), col("text_clean").as("text"))
    // second stage boundary: the mix's dedup election + keeper join both
    // consume this frame, and without a materialization each re-executes
    // the whole scrub chain (repetition pass + span election + reassembly)
    val scrubbed = persistStage(spans.join(meta, "doc_id"))
    curateTrainingMix(scrubbed,
      col("doc_id"), col("text"), col("source"), col("stratum"),
      keepFrac, cap, alpha, budget)
  }

  /** Pairwise overlap matrix over per-group distinct key sets: for every
    * pair of groups, `n_shared` = how many distinct keys appear in BOTH,
    * each group's set size, and the integer-exact Jaccard
    * `⌊1000·shared/union⌋`. Feed it (source, token) for vocabulary overlap,
    * (source, content-hash) for exact-dup provenance, or (source, winnow
    * fingerprint) for near-dup provenance — the report that tells a corpus
    * owner which feeds are re-crawling each other before any dedup decision.
    *
    * 100 TB shape: one distinct shuffle on (group, key) then one partial-agg
    * shuffle on key; the per-key group set is bounded by the GROUP
    * cardinality (thousands of sources), so the row-local pair explosion is
    * bounded by |groups|² per shared key, never by corpus size. Keys (hashes
    * / tokens) stand in for documents — text never moves.
    */
  def overlapMatrix(
      df: DataFrame,
      groupCol: Column,
      keyCol: Column): DataFrame = {
    val gk = df.select(groupCol.as("src"), keyCol.as("k")).distinct()
    val sizes = gk.groupBy(col("src")).agg(count(lit(1)).as("n"))
    val sets = gk.groupBy(col("k"))
      .agg(sort_array(collect_set(col("src"))).as("ss"))
      .filter(size(col("ss")) > 1)
    // all i<j pairs of the (sorted) per-key group set, row-locally
    val pairs = sets.select(explode(flatten(transform(col("ss"),
      (a, i) => transform(slice(col("ss"), i + lit(2), size(col("ss"))),
        b => struct(a.as("src_a"), b.as("src_b")))))).as("p"))
    pairs.groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.withColumnRenamed("src", "src_a")
        .withColumnRenamed("n", "n_a")), "src_a")
      .join(broadcast(sizes.withColumnRenamed("src", "src_b")
        .withColumnRenamed("n", "n_b")), "src_b")
      // 64-bit integer division, not double floor: 1000·n_shared past 2^53
      // would round in double and the floor could disagree with the integer
      // definition by one (mixToTarget's div pattern; oracle mirrored)
      .withColumn("jaccard_pm",
        expr("(1000 * n_shared) div (n_a + n_b - n_shared)"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        col("n_a"), col("n_b"), col("jaccard_pm"))
  }

  def filterFunnel(
      df: DataFrame,
      textCol: Column,
      strataCol: Column,
      minTokens: Int,
      maxTokens: Int,
      minDistinctPct: Int,
      minMeanWordLen: Int,
      maxMeanWordLen: Int): DataFrame = {
    val n = TextFunctions.token_count(textCol).cast("long")
    val nd = size(array_distinct(TextFunctions.tokens(textCol))).cast("long")
    // total word chars = doc length minus the n-1 separating spaces
    val chars = length(textCol).cast("long") - (n - 1)
    val r1 = n.between(minTokens, maxTokens)
    val r2 = nd * 100 >= n * minDistinctPct
    val r3 = chars >= n * minMeanWordLen && chars <= n * maxMeanWordLen
    val one = (c: Column) => when(c, 1L).otherwise(0L)
    df.groupBy(strataCol.as("stratum"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(one(r1)).as("pass_len"),
        sum(one(r1 && r2)).as("pass_len_distinct"),
        sum(one(r1 && r2 && r3)).as("survivors"))
  }
}
