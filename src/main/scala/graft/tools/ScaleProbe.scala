package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.metrics.QueryProfile
import graft.tools.Probe.{num, timed}

/** Scale-SHAPE probe (`Probe scale`): turns the "100 TB by construction"
  * argument into a measured curve. Runs the most expensive flagship
  * queries at sf0.01 and sf0.1 — a 10× row-count step — capturing
  * wall time and the executor-truth byte counters (input read, shuffle
  * write, shuffle read, disk spill) from task metrics, then checks the
  * property the plan audits only assert statically:
  *
  *   **shuffle AMPLIFICATION (shuffle bytes / input bytes) must stay ~flat
  *   across the 10× step.** Flat amplification is what linear-in-data cost
  *   looks like from the wire: every shuffle in the plan carries a
  *   per-row-bounded projection (hashes, ids, integer scores), so 10× rows
  *   may move ~10× bytes — but a SUPER-linear ratio (an accidental
  *   all-pairs join, a corpus-sized window, a collect-shaped agg) multiplies
  *   amplification itself and fails the probe.
  *
  * The property fails if any query's amplification grows by more than
  * [[AmplificationSlack]]× (or its shuffle bytes grow more than
  * [[BytesRatioMax]]× — super-linear even if input metrics drift) across
  * the step. Writes SCALE_PROBE.json (committed beside BENCH_SELF.json).
  *
  * Wall-clock ratios are reported but NOT asserted: at these scales fixed
  * per-query costs (planning, codegen, task dispatch) still dominate
  * seconds-long runs and a time ratio well under 10 is expected; bytes are
  * the honest scale signal this probe exists to pin.
  *
  * Usage: runMain graft.tools.Probe scale [sfSmallDir sfBigDir synthDir]
  */
object ScaleProbe {

  /** Amplification may grow this much across the 10× step before the probe
    * fails (covers footer/metadata noise and AQE plan drift at small SF).
    */
  val AmplificationSlack = 2.0
  /** And shuffle bytes may grow at most this much on a 10× data step. */
  val BytesRatioMax = 20.0
  /** The amplification check needs a meaningful denominator: below this
    * input size (both SFs) the ratio is footer/metadata noise — e.g. a
    * pushdown-pruned scan reads KBs and a fixed 100 KB of shuffled
    * signatures reads as amplification 30 — and only the absolute
    * shuffle-bytes growth bound applies.
    */
  val InputFloorMb = 0.5

  /** The probe set: the three mix flagships (the deepest compositions in
    * the library), the banded-LSH pair query (the dedup family's shuffle
    * shape), the full quantized ANN stack, exact dedup, the Lee-span stats
    * shape, BM25 retrieval, and the windowed-CMS + cell-join estimates.
    */
  val ProbeQueries: Seq[String] = Seq(
    "pq74_scrub_mix", "pq64_incremental_mix", "pq60_training_mix",
    "pq03_lsh_pairs", "pq35_knn_quantized_stack",
    "pq01_exact_dedup", "pq18_dup_spans", "pq53_bm25_topk", "dq09_cms_rates",
    // the windowed distinct sketches (state-bounded by construction — the
    // batch form's shuffle curve pins the register/kmv exchange) and the
    // percentile census (one corpus scan, the effective-count-0 shape)
    "dq24_windowed_distinct_sketch", "q21_percentile",
    // the crawl-front flagship (URL-hash election shuffle + cap heap; text
    // must never shuffle) and the live calibrated gate's batch form (fixed
    // 512-cell histogram exchange per window)
    "pq86_crawl_to_corpus", "dq31_calibrated_gate",
    // the full-PSL-keyed curation (broadcast probe chain — the corpus must
    // not start shuffling when the rule table is the real PSL), the
    // robots-exclusion gate (parse-on-the-small-side broadcast; the
    // frontier must stay row-local), and the single-pass funnel (one
    // canonicalize + one narrow election exchange)
    "pq93_psl_crawl_curation", "pq94_robots_gate", "pq88_crawl_funnel",
    // the HTTP payload decode chain and sitemap extraction — both
    // row-local by construction (zero shuffle expected; the probe pins that
    // the wrap+decode/parse arms never start exchanging), and the deletion
    // re-election (broadcast-restricted sub-graph + driver delta; its
    // shuffle bytes are the LSH pair build's, which must stay linear)
    "pq99_http_text", "pq101_sitemap_seed", "pq97_deletion_reelect",
    // main-content extraction (row-local block scoring — zero shuffle
    // expected), the link-graph build (parse+resolve+canonicalize row-local;
    // only the registered output materialization may exchange), and
    // integer PageRank (per-iteration edges⋈ranks joins — shuffle bytes
    // must scale with the EDGE list, linearly)
    "pq103_main_content", "pq105_link_graph", "pq106_link_pagerank")

  /** A THIRD scale point — two points (sf0.01→sf0.1) fit any line; the
    * flagships get a further 10× step on SYNTHESIZED volume (10 shifted
    * copies of sf0.1 — see [[synthesize]]) so curvature is measurable
    * across two decades.
    */
  val Probe100x: Seq[String] = Seq(
    "pq74_scrub_mix", "pq64_incremental_mix", "pq60_training_mix",
    "pq18_dup_spans", "q21_percentile")

  /** Materialize a 10×-of-`bigDir` volume for the [[Probe100x]] inputs
    * (documents + orders) by unioning 10 id-shifted copies. Volume-faithful,
    * not generator-faithful: copy k > 0 shifts every id by k·N, and every
    * TOKEN gets the digit k appended — the canonicalizer keeps digits, so
    * texts/grams/canonical hashes are all distinct ACROSS copies while each
    * copy keeps sf0.1's internal duplicate/span structure exactly. The
    * salting is distinct-across-copies at TEXT granularity, not per token:
    * copy 1 maps 'foo' to 'foo1', which can collide with copy 0's natural
    * token 'foo1' (and an empty token from a doubled space becomes the bare
    * digit). A collision-free salt would need a separator character outside
    * the canonicalizer's kept alphabet, which it would strip — so this
    * residual per-token collision class is accepted; it can only merge the
    * occasional shingle (or, vanishingly, a whole text whose every token
    * happens to carry the matching trailing digit) across copies — a
    * negligible nudge to near-dup group sizes, not a structural change. Without
    * the perturbation every dedup-shaped stage would see 10-way duplicate
    * groups of the SAME document — a data-construction artifact that
    * inflates group sizes superlinearly and would fail the probe for
    * reasons that say nothing about the plans. (Vocabulary grows 10× where
    * a real corpus grows sublinearly — a pessimistic distortion: it only
    * makes broadcast/agg stages heavier than reality.) Cached under
    * /tmp and keyed by a marker file; delete the directory to regenerate.
    */
  def synthesize(spark: SparkSession, bigDir: String, outDir: String): Unit = {
    import org.apache.spark.sql.functions._
    val done = java.nio.file.Paths.get(outDir, "_SYNTH_OK")
    if (java.nio.file.Files.exists(done)) return
    System.err.println(s"[scale] synthesizing 10x of $bigDir under $outDir")
    val d = spark.read.parquet(s"$bigDir/documents.parquet")
    val n = d.agg(max(col("doc_id"))).head().getLong(0) + 1
    (0 until 10).map { k =>
      if (k == 0) d
      else d.select(
        (col("doc_id") + lit(k * n)).as("doc_id"),
        array_join(transform(split(col("text"), " "), t => concat(t, lit(k.toString))), " ")
          .as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val o = spark.read.parquet(s"$bigDir/orders.parquet")
    val m = o.agg(max(col("o_orderkey"))).head().getLong(0) + 1
    (0 until 10).map { k =>
      o.select(
        (col("o_orderkey") + lit(k * m)).as("o_orderkey"),
        (col("o_custkey") + lit(k * m)).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    java.nio.file.Files.createFile(done); ()
  }

  final case class Sample(
      sec: Double, inputMb: Double, shuffleWriteMb: Double,
      shuffleReadMb: Double, spillMb: Double) {
    def amplification: Double = if (inputMb == 0) 0.0 else shuffleWriteMb / inputMb
  }

  private def runOne(spark: SparkSession, name: String, sfDir: String): Sample = {
    // cold slate per sample: the mix flagships persist their scored stage,
    // and a warm stage cache would hide the dominant shuffles
    graft.pipeline.Curation.releaseStageCaches(blocking = true)
    spark.catalog.clearCache()
    val ((_, sec), p) = QueryProfile.run(spark)(timed(
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()))
    def mb(bytes: Long) = bytes / 1048576.0
    Sample(sec, mb(p.inputBytes), mb(p.shuffleWriteBytes), mb(p.shuffleReadBytes), mb(p.spillBytes))
  }

  def run(ctx: Probe.Ctx): Probe.Result = {
    import ctx.{args, spark}
    val small = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val big = args.lift(1).getOrElse("/root/testdata/sf0.1")

    // one untimed pass at the small SF: plan compilation out of the window
    ProbeQueries.foreach { n =>
      SparkEntry.queries(n)(spark, small).write.format("noop").mode("overwrite").save()
    }

    // third scale point: synthesized 10×-of-big volume for the flagships
    val synthDir = args.lift(2).getOrElse("/tmp/graft-sf-synth100")
    synthesize(spark, big, synthDir)

    val rows = ProbeQueries.map { n =>
      val s1 = runOne(spark, n, small)
      val s10 = runOne(spark, n, big)
      val bytesRatio = if (s1.shuffleWriteMb == 0) 1.0 else s10.shuffleWriteMb / s1.shuffleWriteMb
      val ampMeaningful = s1.inputMb >= InputFloorMb && s10.inputMb >= InputFloorMb
      val ampRatio =
        if (!ampMeaningful || s1.amplification == 0) 1.0 else s10.amplification / s1.amplification
      val ok = ampRatio <= AmplificationSlack && bytesRatio <= BytesRatioMax
      System.err.println(f"[scale] $n%-28s 1x=${s1.sec}%6.2fs 10x=${s10.sec}%6.2fs " +
        f"shufWr ${s1.shuffleWriteMb}%8.1f -> ${s10.shuffleWriteMb}%8.1f MB " +
        f"amp ${s1.amplification}%5.2f -> ${s10.amplification}%5.2f ok=$ok")
      // the second decade, flagships only: ratios against the 10x sample
      val s100 = if (Probe100x.contains(n)) Some(runOne(spark, n, synthDir)) else None
      val r100 = s100.map { s =>
        val br = if (s10.shuffleWriteMb == 0) 1.0 else s.shuffleWriteMb / s10.shuffleWriteMb
        val meaningful = s10.inputMb >= InputFloorMb && s.inputMb >= InputFloorMb
        val ar = if (!meaningful || s10.amplification == 0) 1.0
                 else s.amplification / s10.amplification
        val ok100 = ar <= AmplificationSlack && br <= BytesRatioMax
        System.err.println(f"[scale] $n%-28s 100x=${s.sec}%6.2fs " +
          f"shufWr ${s10.shuffleWriteMb}%8.1f -> ${s.shuffleWriteMb}%8.1f MB " +
          f"amp ${s10.amplification}%5.2f -> ${s.amplification}%5.2f ok=$ok100")
        (s, br, ar, ok100)
      }
      (n, s1, s10, bytesRatio, ampRatio, ok, r100)
    }

    def sampleJson(s: Sample) =
      s"""{"sec":${num(s.sec, 3)},"input_mb":${num(s.inputMb, 2)},""" +
        s""""shuffle_write_mb":${num(s.shuffleWriteMb, 2)},""" +
        s""""shuffle_read_mb":${num(s.shuffleReadMb, 2)},"spill_mb":${num(s.spillMb, 2)},""" +
        s""""amplification":${num(s.amplification, 4)}}"""
    val qJson = rows.map { case (n, s1, s10, br, ar, ok, r100) =>
      val extra = r100.map { case (s, br1, ar1, ok1) =>
        s""","sf_100x":${sampleJson(s)},"time_ratio_100x":${num(s.sec / math.max(1e-9, s10.sec), 2)},""" +
          s""""shuffle_bytes_ratio_100x":${num(br1, 2)},"amplification_ratio_100x":${num(ar1, 3)},""" +
          s""""linear_100x_ok":$ok1"""
      }.getOrElse("")
      s""""$n":{"sf_1x":${sampleJson(s1)},"sf_10x":${sampleJson(s10)},""" +
        s""""time_ratio":${num(s10.sec / math.max(1e-9, s1.sec), 2)},"shuffle_bytes_ratio":${num(br, 2)},""" +
        s""""amplification_ratio":${num(ar, 3)},"linear_ok":$ok$extra}"""
    }.mkString("{", ",", "}")
    val allOk = rows.forall(r => r._6 && r._7.forall(_._4))
    val json =
      s"""{"probe":"scale-shape","step":"10x rows ($small -> $big)","amplification_slack":$AmplificationSlack,""" +
        s""""bytes_ratio_max":$BytesRatioMax,"queries":$qJson,"all_linear":$allOk}"""
    Probe.Result(json, "SCALE_PROBE.json", allOk)
  }
}
