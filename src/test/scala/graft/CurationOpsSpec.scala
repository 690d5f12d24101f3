package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.TextFunctions

/** Behavioral properties of the round-5 curation operators that the oracle
  * hash-check cannot express: the Bloom filter's one-sided error guarantee,
  * the PII chain's ordering contract, and SemDeDup's coverage invariant
  * (every dropped vector has a surviving same-cluster representative).
  */
class CurationOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("bloom seen-filter never produces a false negative, at any fill level") {
    val d = Tables.documents(spark, sfDir)
    // duplicate the seen half INTO the probe half so is_member is non-trivial
    val seen = d.filter(col("doc_id") % 2 === 0)
    val probe = d.withColumn("doc_id", col("doc_id") + 100000)
    for (m <- Seq(64, 2048)) { // 64: saturated filter; 2048: selective
      val out = Dedup.bloomSeenFilter(seen, probe, col("text"), col("doc_id"), m, 3)
      val fn = out.filter(col("is_member") && !col("maybe_member")).count()
      assert(fn == 0, s"m=$m: $fn false negatives — Bloom's core guarantee broken")
      val members = out.filter(col("is_member")).count()
      assert(members == seen.select("text").distinct().count(),
        s"m=$m: exact membership should flag every seen content")
    }
  }

  test("PII redaction scrubs each type and survives its ordering hazards") {
    val cases = Seq(
      // the URL embeds an @ — must become <URL>, not a mangled <EMAIL>
      ("see https://u:p@host.example.com/x now", "see <URL> now"),
      ("mail a.b+tag@sub.example.org please", "mail <EMAIL> please"),
      // IP inside a sentence; phone requires the leading +
      ("node 192.168.1.254 up", "node <IP> up"),
      ("call +44 (20) 7946-0958 today", "call <PHONE> today"),
      // digit runs WITHOUT a + or dots stay untouched (no over-redaction)
      ("order 123456789 shipped", "order 123456789 shipped"))
    val out = cases.toDF("raw", "expected")
      .withColumn("clean", TextFunctions.redact_pii(col("raw")))
    val bad = out.filter(col("clean") =!= col("expected"))
      .select("raw", "clean").as[(String, String)].collect()
    assert(bad.isEmpty, bad.map { case (r, c) => s"'$r' -> '$c'" }.mkString("; "))
  }

  test("top_k_by equals the window row_number form, ties included") {
    import org.apache.spark.sql.expressions.Window
    // scores engineered with heavy ties so the (score desc, id asc) total
    // order is what decides membership, across several partitionings; every
    // 11th row scores NaN (the cosine of a zero-norm vector) — top_k_by must
    // ignore those rows outright, in ANY arrival order, where Spark's
    // descending sort would rank them first. The window baseline therefore
    // runs over the NaN-filtered input.
    val rows = (0L until 2000L).map { i =>
      val s = if (i % 11 == 0) Double.NaN else (i % 13).toDouble / 2.0
      (i % 7, i, s)
    }
    for (parts <- Seq(1, 5)) {
      val scored = rows.toDF("query_id", "nbr_id", "cos_r").repartition(parts)
      val viaAgg = scored.groupBy(col("query_id"))
        .agg(graft.functions.top_k_by(col("cos_r"), col("nbr_id"), 9).as("tk"))
        .select(col("query_id"), posexplode(col("tk")).as(Seq("pos", "e")))
        .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
          col("e.id").as("nbr_id"), col("e.score").as("cos_r"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_r").desc, col("nbr_id").asc)
      val viaWindow = scored.filter(!isnan(col("cos_r")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 9)
        .select(col("query_id"), col("rank"), col("nbr_id"), col("cos_r"))
      val a = viaAgg.as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
      val b = viaWindow.as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
      assert(a.toSeq == b.toSeq, s"parts=$parts: heap top-k diverged from window top-k")
    }
  }

  test("k-means assignment is bit-identical across partitionings") {
    val e = Tables.embeddings(spark, sfDir)
    def run(parts: Int) =
      graft.similarity.Knn.kmeansAssignByCosine(
          e.repartition(parts), col("vec_id"), col("embedding"), 25L, 2)
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
    // the fixed-point mean contract: partition/summation order must not
    // change a single centroid, hence not a single assignment
    assert(run(3) == run(7))
    val clusters = run(3).map(_._2).distinct
    assert(clusters.size > 1, "fixture should produce multiple clusters")
  }

  test("semantic dedup: every dropped vector has a surviving near representative") {
    val e = Tables.embeddings(spark, sfDir)
    val survivors =
      Dedup.semanticClusterDedup(e, col("vec_id"), col("embedding"), 25L, 0.4)
    val dropped = e.join(survivors, "vec_id", "left_anti")
      .select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    assert(dropped.count() > 0, "fixture should contain semantic near-dups")
    // each dropped vector must be >= minCosine from SOME survivor (possibly
    // itself transitively pruned — greedy keep-min-id guarantees a smaller-id
    // kept-or-dropped chain ends at a survivor within the cluster; assert the
    // direct-witness form: a smaller-id SAME-CLUSTER vector at >= minCosine)
    val all = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val witnessed = dropped.join(all, col("id_a") < col("id_b"))
      .filter(Dedup.cosine(col("va"), col("vb")) >= 0.4)
      .select("id_b").distinct().count()
    assert(witnessed == dropped.count(),
      "a vector was dropped without any smaller-id near neighbour")
  }

  test("linear quality classifier: sign-coherent gating, and DSIR weights compose as its model") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = Tables.documents(spark, sfDir)
    val buckets = 64
    // an all-positive model keeps everything; all-negative drops everything —
    // the integer cross-multiplied gate can never disagree with the score sign
    val allPos = (0 until buckets).map(b => (b, 5L)).toDF("b", "w_fp")
    val allNeg = (0 until buckets).map(b => (b, -5L)).toDF("b", "w_fp")
    val kept = graft.quality.Importance.linearQualityScore(
      d, col("doc_id"), col("text"), allPos, buckets)
    assert(kept.filter(not(col("keep"))).isEmpty, "positive model must keep all")
    val dropped = graft.quality.Importance.linearQualityScore(
      d, col("doc_id"), col("text"), allNeg, buckets)
    assert(dropped.filter(col("keep")).isEmpty, "negative model must drop all")
    // keep agrees with the double score's sign on every row (gate is integer,
    // score is derived — they must never contradict)
    val mixed = (0 until buckets)
      .map(b => (b, (b.toLong * 2654435761L) % 1000003L - 500000L)).toDF("b", "w_fp")
    val scored = graft.quality.Importance.linearQualityScore(
      d, col("doc_id"), col("text"), mixed, buckets)
    assert(scored.filter(col("keep") =!= (col("score") >= 0.0)).isEmpty)
    // composability: DSIR's ratio table trains the model; target-corpus docs
    // must average a higher mean logit than the raw pool under it
    val isT = col("source").isin("src0", "src1", "src2")
    val ratioTable = {
      // rebuild the frozen ratio table exactly as dsirWeights does, exposed
      // as a (b, w_fp) model for the scorer
      val feats = d.select(col("doc_id"), isT.as("is_t"),
          explode(concat(
            graft.functions.word_ngram_hashes(col("text"), 1),
            graft.functions.word_ngram_hashes(col("text"), 2))).as("h"))
        .withColumn("b", pmod(col("h"), lit(buckets.toLong)).cast("int"))
      val hist = feats.groupBy(col("b")).agg(
          sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
          sum(when(col("is_t"), 0L).otherwise(1L)).as("cr"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      val nT = hist.map(_._2).sum.toDouble + buckets
      val nR = hist.map(_._3).sum.toDouble + buckets
      hist.toSeq.map { case (b, ct, cr) =>
        (b, math.floor(1e6 * (math.log((ct + 1) / nT) - math.log((cr + 1) / nR))).toLong)
      }.toDF("b", "w_fp")
    }
    val byDsir = graft.quality.Importance.linearQualityScore(
        d, col("doc_id"), col("text"), ratioTable, buckets)
      .join(d.select(col("doc_id"), isT.as("is_t")), "doc_id")
    val means = byDsir.groupBy(col("is_t")).agg(avg(col("score")).as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(means(true) > means(false),
      s"DSIR-trained model must rank target docs above the pool: $means")

    // the row-local (map-literal, stateless) form equals the broadcast-join
    // form row for row — it's the same model, just streaming-shaped
    val mixedMap = (0 until buckets)
      .map(b => b -> ((b.toLong * 2654435761L) % 1000003L - 500000L)).toMap
    val local = graft.quality.Importance.linearQualityScoreRowLocal(
        d, col("text"), mixedMap, buckets)
      .select(col("doc_id"), col("n_feats"), col("sum_fp"), col("logit_fp"), col("keep"))
    val joinForm = scored.select(
      col("doc_id"), col("n_feats"), col("sum_fp"), col("logit_fp"), col("keep"))
    assert(local.exceptAll(joinForm).isEmpty && joinForm.exceptAll(local).isEmpty,
      "row-local and broadcast-join classifier forms diverged")
  }

  test("per-source cap equals the window row_number form and never over-admits") {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, sfDir)
    val score = TextFunctions.quality_score(col("text"))
    for (cap <- Seq(3, 20)) {
      val viaOp = graft.pipeline.Curation
        .perSourceCap(d, col("doc_id"), col("source"), score, cap)
      val w = Window.partitionBy(col("source"))
        .orderBy(col("s").desc, col("doc_id").asc)
      val viaWindow = d.select(col("source"), col("doc_id"), score.as("s"))
        .withColumn("rank", row_number().over(w))
        .withColumn("n_total", count(lit(1)).over(Window.partitionBy(col("source"))))
        .filter(col("rank") <= cap)
        .select(col("source"), col("rank").cast("int").as("rank"),
          col("doc_id"), col("s").as("score"), col("n_total"))
      val a = viaOp.as[(String, Int, Long, Double, Long)].collect().sorted
      val b = viaWindow.as[(String, Int, Long, Double, Long)].collect().sorted
      assert(a.toSeq == b.toSeq, s"cap=$cap: heap cap diverged from window cap")
      val over = viaOp.groupBy(col("source")).agg(count(lit(1)).as("k"))
        .filter(col("k") > cap).count()
      assert(over == 0, s"cap=$cap: a source admitted more than cap docs")
    }
  }

  test("perSourceCap NaN posture: unranked but counted; an all-NaN source vanishes") {
    // r14 review-pass pin: NaN scores never rank (heap excludes them) yet
    // still count in n_total; a source with ONLY NaN scores produces no
    // output rows at all (empty heap -> posexplode drops it)
    val d = Seq(
      ("a", 1L, 1.0), ("a", 2L, Double.NaN), ("a", 3L, 2.0),
      ("b", 4L, Double.NaN), ("b", 5L, Double.NaN)
    ).toDF("source", "doc_id", "s")
    val out = graft.pipeline.Curation
      .perSourceCap(d, col("doc_id"), col("source"), col("s"), 5)
      .as[(String, Int, Long, Double, Long)].collect().sorted
    assert(out.map(_._1).distinct.toSeq == Seq("a"), "all-NaN source must vanish")
    assert(out.map(_._3).toSeq == Seq(3L, 1L), "NaN row must never be admitted")
    assert(out.forall(_._5 == 3L), "n_total counts the NaN row it never ranks")
  }

  test("overlap matrix is exact against a brute-force set intersection") {
    val d = Tables.documents(spark, sfDir)
    val toks = d.select(col("source"),
      explode(array_distinct(split(col("text"), " "))).as("tok"))
    val m = graft.pipeline.Curation.overlapMatrix(toks, col("source"), col("tok"))
      .as[(String, String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // brute-force on the driver from the same rows
    val sets = toks.as[(String, String)].collect()
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).toSet }
    val srcs = sets.keys.toSeq.sorted
    for (a <- srcs; b <- srcs if a < b) {
      val shared = (sets(a) & sets(b)).size.toLong
      if (shared == 0) assert(!m.contains((a, b)), s"($a,$b) should be absent")
      else {
        val (_, _, nShared, nA, nB, jpm) = m((a, b))
        assert(nShared == shared && nA == sets(a).size && nB == sets(b).size,
          s"($a,$b): got ($nShared,$nA,$nB), want ($shared,${sets(a).size},${sets(b).size})")
        val union = nA + nB - nShared
        assert(jpm == math.floor(1000.0 * nShared / union).toLong,
          s"($a,$b): jaccard_pm $jpm inconsistent")
      }
    }
  }

  test("calibrated filter keeps at least keepFrac and cuts strictly below the threshold") {
    val d = Tables.documents(spark, sfDir)
    val scored = d.select(col("doc_id"),
      TextFunctions.quality_score(col("text")).as("score"))
    val n = scored.count()
    for (keepFrac <- Seq(0.3, 0.7, 1.0); parts <- Seq(1, 7)) {
      val kept = graft.quality.Calibrate
        .calibratedFilter(scored.repartition(parts), col("score"), keepFrac)
      val thr = kept.select(col("thr")).distinct().as[Double].collect()
      assert(thr.length == 1, s"keepFrac=$keepFrac: threshold must be unique, got ${thr.toSeq}")
      val k = kept.count()
      assert(k >= math.ceil(keepFrac * n).toLong - 1,
        s"keepFrac=$keepFrac: kept $k of $n — under target")
      // everything strictly above the dropped mass survives: the drop side
      // is exactly the scores strictly below thr
      val dropped = n - k
      val belowThr = scored.filter(col("score") < thr(0)).count()
      assert(dropped == belowThr,
        s"keepFrac=$keepFrac: dropped $dropped != strictly-below-threshold $belowThr")
      assert(dropped <= math.floor((1 - keepFrac) * n).toLong,
        s"keepFrac=$keepFrac: dropped $dropped — over the drop budget")
    }
  }

  test("snapshot diff partitions ids correctly and reprocessSet = added ∪ changed") {
    val d = Tables.documents(spark, sfDir)
    val oldSnap = d.select(col("doc_id"), col("text"))
    // self-diff: everything unchanged
    val self = graft.pipeline.Snapshots.diff(oldSnap, oldSnap, col("doc_id"), col("text"))
    assert(self.filter(col("status") =!= "unchanged").count() == 0)
    // mutated snapshot: drop %10, edit %7, add fresh ids for %13
    val newSnap = d.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionByName(d.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val diff = graft.pipeline.Snapshots.diff(oldSnap, newSnap, col("doc_id"), col("text"))
    val by = diff.groupBy(col("status")).count()
      .as[(String, Long)].collect().toMap
    val nOld = oldSnap.count(); val nNew = newSnap.count()
    assert(by("removed") + by("changed") + by("unchanged") == nOld,
      s"old-side partition broken: $by vs $nOld old docs")
    assert(by("added") + by("changed") + by("unchanged") == nNew,
      s"new-side partition broken: $by vs $nNew new docs")
    val rs = graft.pipeline.Snapshots.reprocessSet(oldSnap, newSnap, col("doc_id"), col("text"))
    assert(rs.count() == by("added") + by("changed"))
    val viaDiff = diff.filter(col("status").isin("added", "changed")).select("doc_id")
    assert(rs.exceptAll(viaDiff).isEmpty && viaDiff.exceptAll(rs).isEmpty)
  }

  test("training-mix composition: caps hold, gate holds, and samples nest across budgets") {
    val d = Tables.documents(spark, sfDir)
    def mix(budget: Long) = graft.pipeline.Curation.curateTrainingMix(
      d, col("doc_id"), col("text"), col("source"), col("lang"),
      keepFrac = 0.8, cap = 15, alpha = "sqrt", budget = budget)
    val out = mix(120L)
    assert(out.count() > 0)
    assert(out.select("doc_id").distinct().count() == out.count(), "duplicate docs in the mix")
    val overCap = out.groupBy(col("source")).count().filter(col("count") > 15).count()
    assert(overCap == 0, "a source exceeded its cap inside the composition")
    assert(out.filter(col("rank") > 15).count() == 0)
    // every sampled doc passed the calibrated gate: its score is >= the
    // stage-2 threshold computed over the DEDUPED corpus
    val scored = d.select(col("doc_id"),
      TextFunctions.quality_score(col("text")).as("score"))
    val thr = graft.quality.Calibrate.calibratedFilter(scored, col("score"), 0.8)
      .select(min(col("thr"))).as[Double].head()
    assert(out.filter(col("score") < thr).count() == 0, "sampled doc below the gate")
    // nesting: integer rates are monotone in the budget and the bucket is
    // the doc's own hash, so a smaller budget's sample is a strict subset
    val small = mix(60L).select("doc_id")
    assert(small.exceptAll(out.select("doc_id")).isEmpty,
      "budget-60 sample must nest inside budget-120")
  }

  test("incremental scoring reuses unchanged scores exactly and matches from-scratch end to end") {
    import graft.pipeline.Curation
    val d = Tables.documents(spark, sfDir)
    // v1: %11==3 absent (added in v2), %9==0 older text (changed), extra rows (removed)
    val v1 = d.filter(col("doc_id") % 11 =!= 3)
      .select(col("doc_id"), col("source"), col("lang"),
        when(col("doc_id") % 9 === 0, concat(col("text"), lit(" v1")))
          .otherwise(col("text")).as("text"))
      .unionByName(d.filter(col("doc_id") % 13 === 5)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("source"),
          col("lang"), col("text")))
    val prev = Curation.scoreCorpus(v1, col("doc_id"), col("text"), col("source"), col("lang"))
    // 1. the incremental artifact is ROW-IDENTICAL to scoring v2 from scratch
    val inc = Curation.scoreIncremental(prev, d, col("doc_id"), col("text"), col("source"), col("lang"))
    val full = Curation.scoreCorpus(d, col("doc_id"), col("text"), col("source"), col("lang"))
    assert(inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty,
      "incremental score artifact drifted from the from-scratch one")
    // 2. poisoned scorer: unchanged rows must take the REUSE branch (keep the
    // v1 score), added/changed rows must take the scorer branch (poison value)
    val poisoned = Curation.scoreIncremental(prev, d,
      col("doc_id"), col("text"), col("source"), col("lang"), scorer = _ => lit(-999.0))
    val changedOrAdded = poisoned.filter(col("score") === -999.0)
      .select("doc_id").as[Long].collect().toSet
    val expected = d.filter(col("doc_id") % 9 === 0 || col("doc_id") % 11 === 3)
      .select("doc_id").as[Long].collect().toSet
    assert(changedOrAdded == expected,
      "scorer ran on the wrong row set: reuse branch must cover exactly the unchanged docs")
    // 3. the flagship mix over the incremental artifact equals the from-scratch mix on v2
    val viaInc = Curation.mixFromScored(inc, keepFrac = 0.75, cap = 12, alpha = "prop", budget = 100L)
    val scratch = Curation.curateTrainingMix(d, col("doc_id"), col("text"), col("source"), col("lang"),
      keepFrac = 0.75, cap = 12, alpha = "prop", budget = 100L)
    assert(viaInc.exceptAll(scratch).isEmpty && scratch.exceptAll(viaInc).isEmpty,
      "incremental mix output differs from recomputing the world")
  }

  test("OOV rate: zero under a covering vocabulary, spikes on a planted alien source") {
    import spark.implicits._
    val d = Tables.documents(spark, sfDir).select(col("source"), col("text"))
    // a full-coverage vocabulary zeroes every source
    val vocabSize = d.select(explode(split(col("text"), " ")).as("t"))
      .select("t").distinct().count().toInt
    val covered = graft.quality.CorpusStats.oovRate(d, col("source"), col("text"), vocabSize)
    assert(covered.filter(col("n_oov") =!= 0L).count() == 0)
    // plant an alien source of UNIQUE singleton tokens: corpus words occur
    // hundreds of times, so no alien token can reach the top-60
    val alien = Seq(("srcALIEN", (0 until 40).map(i => s"zzq$i").mkString(" ")))
      .toDF("source", "text")
    // topN=30: the corpus has ≥30 tokens occurring hundreds of times, so
    // the vocabulary is pure corpus and every alien token is OOV
    val out = graft.quality.CorpusStats.oovRate(
        d.unionByName(alien), col("source"), col("text"), topN = 30)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r._4).toMap
    assert(out("srcALIEN") == 1000000L, s"alien source ppm ${out("srcALIEN")}")
    assert(out.filterNot(_._1 == "srcALIEN").values.forall(_ < 1000000L))
  }

  test("compression ratio matches the zlib reference and separates loops from prose") {
    import spark.implicits._
    def ratio(s: String): Long = Seq(s).toDF("t")
      .select(graft.functions.compression_ratio_pm(col("t"))).as[Long].head()
    def ref(s: String): Long = {
      val bytes = s.getBytes("UTF-8")
      val d = new java.util.zip.Deflater(6)
      try {
        d.setInput(bytes); d.finish()
        val out = new Array[Byte](256)
        var total = 0L
        while (!d.finished()) total += d.deflate(out)
        total * 1000L / math.max(bytes.length, 1)
      } finally d.end()
    }
    val docs = Tables.documents(spark, sfDir).select("text").as[String].take(25) :+ ""
    docs.foreach(t => assert(ratio(t) == ref(t), s"ratio diverged on: ${t.take(40)}…"))
    // a generation loop compresses far below natural prose
    val loop = "the cat sat on the mat " * 100
    val prose = Tables.documents(spark, sfDir).select("text").as[String].head()
    assert(ratio(loop) < ratio(prose) / 2,
      s"loop ${ratio(loop)} not well below prose ${ratio(prose)}")
  }

  test("quality score is total: empty text scores 0.303 instead of raising") {
    import spark.implicits._
    val s = Seq("", "x", "the fox.").toDF("text")
      .select(TextFunctions.quality_score(col("text")).as("q"))
      .as[Double].collect()
    assert(s(0) == 0.303, s"empty-text score ${s(0)}")
    assert(s.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("scrub-and-mix: planted exact copies never reach the mix, caps hold") {
    import spark.implicits._
    val d = Tables.documents(spark, sfDir)
    // plant exact copies under fresh higher ids: span removal must scrub
    // them to nothing before the mix ever sees them
    val copies = d.limit(25).select((col("doc_id") + 500000L).as("doc_id"),
      col("source"), col("lang"), col("text"))
    val corpus = d.select(col("doc_id"), col("source"), col("lang"), col("text"))
      .unionByName(copies)
    val out = graft.pipeline.Curation.scrubAndMix(
      corpus, col("doc_id"), col("text"), col("source"), col("lang"),
      segTokens = 4, spanTokens = 5,
      keepFrac = 0.7, cap = 10, alpha = "prop", budget = 90L)
    assert(out.count() > 0)
    assert(out.filter(col("doc_id") >= 500000L).count() == 0,
      "an exact copy survived the scrub into the training mix")
    val overCap = out.groupBy(col("source")).count().filter(col("count") > 10).count()
    assert(overCap == 0, "a source exceeded its cap")
  }

  test("markup extraction recovers wrapped text and survives its ordering hazards") {
    import spark.implicits._
    def x(s: String): String = Seq(s).toDF("h")
      .select(TextFunctions.extract_text(col("h"))).as[String].head()
    // round trip: tag-wrapped corpus text comes back verbatim
    val t = "the quick brown fox"
    assert(x(s"<html><body><p>${t.replace(" ", "</p> <p>")}</p></body></html>") == t)
    // script/style bodies drop wholesale even when they contain < and >
    assert(x("a<script>if (1 < 2 && x > y) { f('<div>'); }</script>b") == "a b")
    assert(x("a<style>p > span { margin: 0; }</style>b") == "a b")
    // entity order: &amp;lt; must become the LITERAL '&lt;', never '<'
    assert(x("x &amp;lt; y") == "x &lt; y")
    assert(x("a &amp; b &lt; c &gt; d &quot;e&quot; &#39;f&#39;") ==
      "a & b < c > d \"e\" 'f'")
    // whitespace collapse + trim
    assert(x("  a\n\n<br/>  b\t c  ") == "a b c")
  }

  test("repetition removal drops planted loops, keeps clean text, and is idempotent") {
    import spark.implicits._
    val clean = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens, 2 segments
    val looped = clean + " " + "alpha beta gamma delta" * 1 + " iota kappa lambda mu"
    val rows = Seq((1L, clean), (2L, looped), (3L, ""), (4L, "one"))
    val out = TextFunctions.dropRepeatedSegments(
        rows.toDF("doc_id", "text"), col("doc_id"), col("text"), segTokens = 4)
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> r).toMap
    // clean doc untouched
    assert(out(1L)._4 == clean && out(1L)._2 == out(1L)._3)
    // the repeated first segment is gone, later content survives
    assert(out(2L)._4 == clean + " iota kappa lambda mu")
    assert(out(2L)._2 == 4 && out(2L)._3 == 3)
    // degenerate docs survive unchanged
    assert(out(3L)._4 == "" && out(4L)._4 == "one")
    // idempotent: cleaning the cleaned text changes nothing
    val again = TextFunctions.dropRepeatedSegments(
        Seq((2L, out(2L)._4)).toDF("doc_id", "text"),
        col("doc_id"), col("text"), segTokens = 4)
      .select("text_clean").as[String].head()
    assert(again == out(2L)._4, "repetition removal is not idempotent")
  }

  test("repetition removal: null text yields an honest empty row, not garbage segments") {
    import spark.implicits._
    // size(null) = -1 under legacy sizeOfNull; without the guard the segment
    // sequence(0, -1) DESCENDS and fabricates n_segments = 2 phantom rows
    val rows = Seq((1L, Some("alpha beta gamma delta")), (2L, None))
    val out = TextFunctions.dropRepeatedSegments(
        rows.toDF("doc_id", "text"), col("doc_id"), col("text"), segTokens = 4)
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> r).toMap
    assert(out(2L)._2 == 0 && out(2L)._3 == 0 && out(2L)._4 == "",
      s"null text must clean to an empty doc, got ${out(2L)}")
    assert(out(1L)._4 == "alpha beta gamma delta")
  }

  /** RDDs created after `firstId` that still hold cached or checkpointed blocks. */
  private def rddBlocksAfter(firstId: Int) =
    spark.sparkContext.getRDDStorageInfo.filter(_.id > firstId).map(_.name).toSeq

  test("stage-boundary caches release on demand") {
    import spark.implicits._
    spark.catalog.clearCache()
    val firstId = spark.sparkContext.emptyRDD[Int].id
    val scored = Seq((1L, "a", "en", 10, "x"), (2L, "b", "en", 20, "y"))
      .toDF("doc_id", "source", "stratum", "score", "txt")
      .select(col("doc_id"), col("source"), col("stratum"),
        md5(col("txt")).as("ch"), col("score"))
    val mixed = graft.pipeline.Curation.mixFromScored(
      scored, keepFrac = 0.5, cap = 10, alpha = "prop", budget = 10L)
    mixed.count() // materialize → the stage boundary is now cached
    assert(!spark.sharedState.cacheManager.isEmpty, "stage cache expected after a mix run")
    graft.pipeline.Curation.releaseStageCaches(blocking = true)
    assert(spark.sharedState.cacheManager.isEmpty,
      "releaseStageCaches must drop every pipeline-owned cached frame")
    // the stage's local checkpoint holds blocks of its own
    assert(rddBlocksAfter(firstId).isEmpty,
      s"the mix run left RDD blocks after release: ${rddBlocksAfter(firstId)}")
  }

  test("scoped stage caches are isolated from the global release") {
    import spark.implicits._
    spark.catalog.clearCache()
    val firstId = spark.sparkContext.emptyRDD[Int].id
    def scored(tag: String) = Seq((1L, "a", "en", 10, "x" + tag), (2L, "b", "en", 20, "y" + tag))
      .toDF("doc_id", "source", "stratum", "score", "txt")
      .select(col("doc_id"), col("source"), col("stratum"),
        md5(col("txt")).as("ch"), col("score"))
    // invocation A under a private handle, invocation B on the global registry
    val (mixA, cachesA) = graft.pipeline.Curation.scopedStageCaches {
      graft.pipeline.Curation.mixFromScored(
        scored("A"), keepFrac = 0.5, cap = 10, alpha = "prop", budget = 10L)
    }
    mixA.count()
    val mixB = graft.pipeline.Curation.mixFromScored(
      scored("B"), keepFrac = 0.5, cap = 10, alpha = "prop", budget = 10L)
    mixB.count()
    assert(!spark.sharedState.cacheManager.isEmpty)
    // the global release must NOT unpersist the scoped invocation's frames
    graft.pipeline.Curation.releaseStageCaches(blocking = true)
    assert(!spark.sharedState.cacheManager.isEmpty,
      "global release unpersisted a scoped invocation's stage caches")
    cachesA.release(blocking = true)
    assert(spark.sharedState.cacheManager.isEmpty,
      "scoped handle must drop its own frames on release")
    assert(rddBlocksAfter(firstId).isEmpty,
      s"the mix runs left RDD blocks after release: ${rddBlocksAfter(firstId)}")
  }

  test("term drift: zero on self, non-negative, and rises under a planted vocabulary shift") {
    val d = Tables.documents(spark, sfDir)
    def kl(ref: org.apache.spark.sql.DataFrame, cur: org.apache.spark.sql.DataFrame) =
      graft.quality.CorpusStats.termDriftKl(ref, cur, col("text"))
        .select(col("kl_ref_cur"), col("kl_cur_ref"))
        .as[(Double, Double)].collect().head
    val self = kl(d, d)
    assert(self._1 == 0.0 && self._2 == 0.0, s"self-drift must be exactly zero, got $self")
    val srcNum = substring(col("source"), 4, 10).cast("int")
    val base = kl(d.filter(srcNum % 2 === 0), d.filter(srcNum % 2 === 1))
    assert(base._1 >= 0.0 && base._2 >= 0.0, s"smoothed KL must be non-negative: $base")
    // planted shift: the "current" slice's vocabulary mutates wholesale —
    // drift must rise by orders of magnitude over the natural slice noise
    val shifted = d.filter(srcNum % 2 === 1)
      .withColumn("text", regexp_replace(col("text"), "table", "zzztable"))
    val drifted = kl(d.filter(srcNum % 2 === 0), shifted)
    assert(drifted._1 > 10 * math.max(base._1, 1e-6),
      s"planted vocab shift should dominate slice noise: $drifted vs $base")
  }

  test("calibratedFilter excludes NaN scores from the histogram and the gate") {
    // without the guards: 4 NaNs out of 10 with keepFrac=0.5 put the rank
    // inside the NaN block -> thr = NaN -> ONLY the NaN rows survive
    val scored = ((1 to 6).map(i => (i.toLong, i / 10.0)) ++
      (7 to 10).map(i => (i.toLong, Double.NaN))).toDF("doc_id", "score")
    val kept = graft.quality.Calibrate.calibratedFilter(scored, col("score"), 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(4L, 5L, 6L), s"expected the real top half, got $kept")
  }

  test("calibratedFilter quantizes a raw continuous score to the 6-dp contract") {
    // a raw double score (NOT pre-rounded) must be quantized before both the
    // histogram and the gate: (a) the keep-fraction guarantee holds at 6-dp
    // granularity, (b) the threshold the gate publishes IS a 6-dp value —
    // the cumulative window can only ever see quantized (bounded) scores,
    // and (c) two rows whose raw scores differ only BELOW 6 dp are
    // indistinguishable to the gate (kept or dropped together), proving the
    // comparison really happens on the rounded value.
    val n = 20000
    // deterministic continuous scores: effectively all distinct below 6 dp
    val raw = (1 to n).map(i => (i.toLong, (math.sin(i.toDouble) + 1.0) / 2.0))
    val scored = raw.toDF("doc_id", "score")
    val kept = graft.quality.Calibrate.calibratedFilter(scored, col("score"), 0.25)
    val thr = kept.select(col("thr")).distinct().as[Double].collect()
    assert(thr.length == 1)
    // (b) the published threshold is exactly representable at 6 dp
    val q = BigDecimal(thr(0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(q == thr(0), s"threshold ${thr(0)} is not a 6-dp value")
    // (a) keep fraction at 6-dp granularity
    val k = kept.count()
    assert(k >= math.ceil(0.25 * n).toLong - 1, s"kept $k of $n — under target")
    // (c) sub-6-dp twins straddling the threshold are treated identically:
    // plant two rows whose raw scores differ by 1e-9 around a 6-dp value
    val twins = Seq((100001L, 0.1234565000 - 5e-10), (100002L, 0.1234565000 + 5e-10))
      .toDF("doc_id", "score")
    val twinKept = graft.quality.Calibrate
      .calibratedFilter(scored.unionByName(twins), col("score"), 0.25)
      .filter(col("doc_id") > 100000L).count()
    assert(twinKept == 0L || twinKept == 2L,
      s"sub-6-dp twins split across the gate: kept $twinKept of 2")
  }

  test("calibratedFilter rejects a keepFrac below the representable floor") {
    val scored = Seq((1L, 0.5)).toDF("doc_id", "score")
    intercept[IllegalArgumentException] {
      graft.quality.Calibrate.calibratedFilter(scored, col("score"), 1e-17)
    }
  }

  test("zipf fit recovers a known exponent and is partition-invariant") {
    // construct a corpus whose term counts ARE zipfian with alpha=1: term i
    // appears floor(1200/i) times, i = 1..40
    val words = (1 to 40).flatMap(i => Seq.fill(1200 / i)(s"w$i"))
    val docs = scala.util.Random.shuffle(words).grouped(50)
      .map(_.mkString(" ")).toSeq.toDF("text")
    val fits = Seq(1, 8).map { parts =>
      val r = graft.quality.CorpusStats.zipfFit(docs.repartition(parts), col("text"), topN = 40)
        .as[(Long, Double, Double)].collect().head
      assert(r._1 == 40, s"parts=$parts: fitted ${r._1} terms, want 40")
      assert(math.abs(r._2 - 1.0) < 0.05,
        s"parts=$parts: alpha ${r._2} should be ~1.0 for a 1/i count curve")
      r
    }
    assert(fits.distinct.size == 1,
      s"fit must be bit-identical across partitionings: $fits")
  }
}
