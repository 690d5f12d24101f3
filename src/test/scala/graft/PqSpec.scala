package graft

import org.apache.spark.sql.functions._

import graft.similarity.{Eval, Knn, Pq}

/** Product quantization: ADC scoring exactness, encode determinism, and the
  * trained-codebook recall floor (pq65 hash-checks the synthetic-codebook
  * registered query; these specs cover what the oracle cannot — the trained
  * path and the lookup-table algebra).
  */
class PqSpec extends SparkTestBase {
  import spark.implicits._

  private val m = 8
  private val kCodes = 16

  private def emb = Tables.embeddings(spark, sfDir)

  test("ADC table-lookup scores equal reconstruct-then-dot, bit for bit") {
    val cb = Pq.syntheticCodebooks(m, kCodes, 8)
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val got = Pq.adcTopK(emb, queries, "vec_id", "embedding", cb, k = 5)
      .select("query_id", "rank", "nbr_id", "score_fp")
      .as[(Long, Int, Long, Long)].collect().toSet

    // independent reference: reconstruct each corpus vector from its codes,
    // score per subspace in plain Scala with the same freeze, rank greedily
    val codes = Pq.encode(emb, col("vec_id"), col("embedding"), cb)
      .as[(Long, Seq[Long])].collect().toMap
    val vecs = emb.select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .as[(Long, Seq[Double])].collect().toMap
    val w = 8
    def tableScore(q: Seq[Double], code: Seq[Long]): Long =
      (0 until m).map { s =>
        val qs = q.slice(s * w, (s + 1) * w)
        val cv = cb(s)(code(s).toInt)
        val dot = qs.zip(cv).foldLeft(0.0) { case (acc, (a, b)) => acc + a * b }
        math.floor(1e6 * dot).toLong
      }.sum
    val expected = (for {
      (qid, qv) <- vecs.toSeq if qid % 50 == 0
      ranked = codes.toSeq.filter(_._1 != qid)
        .map { case (nid, code) => (nid, tableScore(qv, code)) }
        .sortBy { case (nid, sc) => (-sc, nid) }.take(5)
      ((nid, sc), i) <- ranked.zipWithIndex
    } yield (qid, i + 1, nid, sc)).toSet
    assert(got == expected, "ADC ranking diverged from the reconstruct-then-dot reference")
  }

  test("native encoder equals the declarative lambda form code-for-code") {
    import org.apache.spark.sql.functions.col
    for (cb <- Seq(
        Pq.syntheticCodebooks(8, 16, 8),
        Pq.train(emb, col("vec_id"), col("embedding"), m = 16, k = 8,
          seedModulus = 31L, iters = 1))) {
      val native = emb.select(col("vec_id"),
          graft.functions.pq_encode(col("embedding"), cb).as("c"))
        .as[(Long, Seq[Long])].collect().toMap
      val decl = emb.select(col("vec_id"),
          Pq.codesForDeclarative(col("embedding"), cb).as("c"))
        .as[(Long, Seq[Long])].collect().toMap
      assert(native == decl, "native PQ encode diverged from the declarative oracle")
    }
  }

  test("encoding is deterministic across partitionings and codes stay in range") {
    val cb = Pq.train(emb, col("vec_id"), col("embedding"),
      m = m, k = kCodes, seedModulus = 31L, iters = 2)
    val a = Pq.encode(emb, col("vec_id"), col("embedding"), cb)
      .as[(Long, Seq[Long])].collect().toMap
    val b = Pq.encode(emb.repartition(7, col("vec_id")),
        col("vec_id"), col("embedding"), cb)
      .as[(Long, Seq[Long])].collect().toMap
    assert(a == b, "codes changed under a different partitioning")
    assert(a.values.forall(c => c.size == m && c.forall(x => x >= 0 && x < kCodes)))
  }

  test("trained codebooks beat synthetic ones; shortlist+rescore clears the recall floor") {
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val exact = Knn.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      Eval.recallSummary(df, exact).select("macro_recall").as[Double].head()
    // finer quantization for the trained tier: 16 subspaces of width 4
    val trainedCb = Pq.train(emb, col("vec_id"), col("embedding"),
      m = 16, k = kCodes, seedModulus = 31L, iters = 2)
    val trainedAdc = recall(Pq.adcTopK(emb, queries, "vec_id", "embedding", trainedCb, k = 10))
    val syntheticAdc = recall(Pq.adcTopK(emb, queries, "vec_id", "embedding",
      Pq.syntheticCodebooks(16, kCodes, 4), k = 10))
    assert(trainedAdc >= syntheticAdc,
      s"training made recall WORSE: trained=$trainedAdc synthetic=$syntheticAdc")
    assert(trainedAdc >= 0.3, s"trained raw-ADC recall $trainedAdc below floor 0.3")
    // the production two-stage: codes-only shortlist, exact rescore of it
    val rescored = recall(Pq.adcRescoreTopK(
      emb, queries, "vec_id", "embedding", trainedCb, shortlist = 50, k = 10))
    assert(rescored >= 0.7, s"shortlist+rescore recall $rescored below floor 0.7")
    assert(rescored >= trainedAdc, "exact rescoring cannot lose to raw ADC ranks")
  }

  test("balanced permutation (OPQ-lite) lifts raw-ADC recall on anisotropic data, never hurts") {
    // Plant anisotropy: dims 0..7 carry 32× the scale, so the natural-order
    // split buries all the variance in the first two of 16 subspaces and
    // their quantization error owns every ADC score. The permutation spreads
    // the loud dims one-per-subspace.
    val aniso = emb.withColumn("va",
      zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
        (x, i) => x.cast("double") * when(i < 8, lit(8.0)).otherwise(lit(0.25))))
    val queries = aniso.filter(col("vec_id") % 50 === 0)
    val exact = Knn.bruteForceTopK(aniso, queries, "vec_id", "va", k = 10)
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      Eval.recallSummary(df, exact).select("macro_recall").as[Double].head()
    val plainCb = Pq.train(aniso, col("vec_id"), col("va"),
      m = 16, k = kCodes, seedModulus = 31L, iters = 2)
    val plain = recall(Pq.adcTopK(aniso, queries, "vec_id", "va", plainCb, k = 10))
    val (perm, balCb) = Pq.trainBalanced(aniso, col("vec_id"), col("va"),
      m = 16, k = kCodes, seedModulus = 31L, iters = 2)
    assert(perm.sorted == (0 until 64).toList, "not a permutation of 0..63")
    // the loud dims (0..7) must land in 8 DISTINCT subspaces
    val loudSubs = perm.zipWithIndex.collect { case (src, pos) if src < 8 => pos / 4 }
    assert(loudSubs.distinct.size == 8, s"loud dims share subspaces: $loudSubs")
    val anisoP = aniso.withColumn("vp", Pq.permuteVec(col("va"), perm))
    val queriesP = anisoP.filter(col("vec_id") % 50 === 0)
    val balanced = recall(Pq.adcTopK(anisoP, queriesP, "vec_id", "vp", balCb, k = 10))
    info(s"anisotropic raw-ADC recall: natural-order=$plain balanced-permutation=$balanced")
    // everything here is deterministic (fixed corpus, deterministic census,
    // training and ranking), so the measured lift (0.39 → 0.47) pins a
    // margin, not just an inequality
    assert(balanced >= plain + 0.05,
      s"balanced permutation did not lift anisotropic recall: $balanced vs $plain")
    // no-harm on the (near-isotropic) corpus: the permutation approximates
    // identity-grade balance and must keep the trained floor
    val (permI, cbI) = Pq.trainBalanced(emb, col("vec_id"), col("embedding"),
      m = 16, k = kCodes, seedModulus = 31L, iters = 2)
    val embP = emb.withColumn("vp", Pq.permuteVec(col("embedding"), permI))
    val exactI = Knn.bruteForceTopK(emb, emb.filter(col("vec_id") % 50 === 0),
      "vec_id", "embedding", k = 10)
    val isoR = Eval.recallSummary(
        Pq.adcTopK(embP, embP.filter(col("vec_id") % 50 === 0), "vec_id", "vp", cbI, k = 10),
        exactI)
      .select("macro_recall").as[Double].head()
    info(s"isotropic-corpus raw-ADC recall with permutation: $isoR")
    assert(isoR >= 0.3, s"permuted trained recall $isoR fell below the 0.3 floor")
    // determinism: the census-derived permutation reproduces exactly
    assert(permI == Pq.balancedPermutation(emb, col("embedding"), 16))
  }

  test("Jacobi SVD reconstructs and orthogonalizes (the OPQ rotation's algebra)") {
    // fixed non-symmetric matrix with distinct singular values
    val d = 8
    val a = Array.tabulate(d, d)((i, j) => math.sin(i * 2.7 + j * 1.3) + (if (i == j) 2.0 else 0.0))
    val (u, v) = graft.similarity.Svd.decompose(a.map(_.clone())).get
    def matmulT(x: Array[Array[Double]], y: Array[Array[Double]]) =
      Array.tabulate(d, d)((i, j) => (0 until d).map(k => x(i)(k) * y(j)(k)).sum)
    // U, V orthogonal
    Seq(u, v).foreach { q =>
      val qqT = matmulT(q, q)
      for (i <- 0 until d; j <- 0 until d)
        assert(math.abs(qqT(i)(j) - (if (i == j) 1.0 else 0.0)) < 1e-8,
          s"Q·Qᵀ($i)($j) = ${qqT(i)(j)}")
    }
    // A = U·S·Vᵀ with S = Uᵀ·A·V diagonal
    val s = Array.tabulate(d, d)((i, j) =>
      (0 until d).map(p => (0 until d).map(q => u(p)(i) * a(p)(q) * v(q)(j)).sum).sum)
    for (i <- 0 until d; j <- 0 until d if i != j)
      assert(math.abs(s(i)(j)) < 1e-7, s"S($i)($j) = ${s(i)(j)} not diagonal")
  }

  test("Jacobi SVD converges on exactly-symmetric inputs (tau == 0 rotation)") {
    // equal diagonal + nonzero off-diagonal ⇒ equal column norms ⇒ tau == 0
    // on the very first rotation: signum(0) = 0 would freeze the sweep at an
    // identity rotation and return a non-orthogonal U after the sweep cap
    val cases = Seq(
      Array(Array(2.0, 1.0), Array(1.0, 2.0)),
      Array.tabulate(6, 6)((i, j) => if (i == j) 3.0 else 1.0)) // symmetric, structured
    cases.foreach { a =>
      val d = a.length
      val (u, v) = graft.similarity.Svd.decompose(a.map(_.clone())).get
      def matmulT(x: Array[Array[Double]], y: Array[Array[Double]]) =
        Array.tabulate(d, d)((i, j) => (0 until d).map(k => x(i)(k) * y(j)(k)).sum)
      Seq(u, v).foreach { q =>
        val qqT = matmulT(q, q)
        for (i <- 0 until d; j <- 0 until d)
          assert(math.abs(qqT(i)(j) - (if (i == j) 1.0 else 0.0)) < 1e-8,
            s"d=$d Q·Qᵀ($i)($j) = ${qqT(i)(j)} — symmetric input broke orthogonality")
      }
      // and it still factorizes: A = U·S·Vᵀ, S diagonal
      val s = Array.tabulate(d, d)((i, j) =>
        (0 until d).map(p => (0 until d).map(q2 => u(p)(i) * a(p)(q2) * v(q2)(j)).sum).sum)
      for (i <- 0 until d; j <- 0 until d if i != j)
        assert(math.abs(s(i)(j)) < 1e-7, s"d=$d S($i)($j) = ${s(i)(j)} not diagonal")
    }
  }

  test("full OPQ rotation beats the balanced permutation on correlated anisotropic data") {
    // the OPQ-lite anisotropy PLUS CROSS-SUBSPACE CORRELATION: each dim
    // mixes in a dim 4 positions over (the next subspace at w=4), so shared
    // variance straddles every subspace boundary. No axis-aligned
    // permutation can decorrelate the blocks — the case a learned dense
    // rotation exists for (Ge et al. §4's correlated-Gaussian argument).
    val scaled = emb.withColumn("vs",
      zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
        (x, i) => x.cast("double") * when(i < 8, lit(8.0)).otherwise(lit(0.25))))
    val aniso = scaled.withColumn("va",
      transform(sequence(lit(0), lit(63)), i =>
        element_at(col("vs"), i + 1) +
          element_at(col("vs"), pmod(i + lit(4), lit(64)) + 1)))
    val queries = aniso.filter(col("vec_id") % 50 === 0)
    val exact = Knn.bruteForceTopK(aniso, queries, "vec_id", "va", k = 10)
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      Eval.recallSummary(df, exact).select("macro_recall").as[Double].head()
    // baseline: the OPQ-lite permutation tier
    val (perm, balCb) = Pq.trainBalanced(aniso, col("vec_id"), col("va"),
      m = 16, k = kCodes, seedModulus = 31L, iters = 2)
    val anisoP = aniso.withColumn("vp", Pq.permuteVec(col("va"), perm))
    val balanced = recall(Pq.adcTopK(anisoP,
      anisoP.filter(col("vec_id") % 50 === 0), "vec_id", "vp", balCb, k = 10))
    // full OPQ: learned dense rotation + codebooks
    val (rot, opqCb) = Pq.trainOpq(aniso, col("vec_id"), col("va"),
      m = 16, k = kCodes, sampleCap = 4096, kmIters = 6, opqIters = 15)
    // R orthogonal: R·Rᵀ = I
    val d = rot.size
    for (i <- 0 until d; j <- 0 until d) {
      val dot = (0 until d).map(p => rot(i)(p) * rot(j)(p)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-8,
        s"R·Rᵀ($i)($j) = $dot — rotation lost orthogonality")
    }
    val anisoR = aniso.withColumn("vr", Pq.rotateVec(col("va"), rot))
    val opq = recall(Pq.adcTopK(anisoR,
      anisoR.filter(col("vec_id") % 50 === 0), "vec_id", "vr", opqCb, k = 10))
    info(s"anisotropic raw-ADC recall: balanced-permutation=$balanced full-OPQ=$opq")
    assert(opq > balanced,
      s"learned rotation must beat its own permutation init: $opq vs $balanced")
    // the OBJECTIVE the rotation optimizes — quantization distortion —
    // shows the real margin where top-10 recall saturates: the learned R
    // must cut the permutation tier's distortion by a pinned fraction
    // (measured ~0.34 → ~0.25 on this probe, deterministic end to end)
    val balDist = Pq.quantizationDistortion(aniso, col("vec_id"), col("va"),
      Pq.permutationMatrix(perm), balCb, sampleCap = 4096)
    val opqDist = Pq.quantizationDistortion(aniso, col("vec_id"), col("va"),
      rot, opqCb, sampleCap = 4096)
    info(s"quantization distortion: permutation=$balDist full-OPQ=$opqDist")
    assert(opqDist <= 0.85 * balDist,
      s"learned rotation must cut distortion >= 15%: $opqDist vs $balDist")
    // determinism: sequential driver training + fixed-sweep SVD reproduce
    val (rot2, _) = Pq.trainOpq(aniso, col("vec_id"), col("va"),
      m = 16, k = kCodes, sampleCap = 4096, kmIters = 6, opqIters = 15)
    assert(rot == rot2, "OPQ training must be bit-reproducible")
    // and the native mat_vec agrees with a driver-side multiply
    val row = anisoR.select(col("va"), col("vr")).head()
    val x = row.getSeq[Double](0); val y = row.getSeq[Double](1)
    val yRef = rot.map(r => r.zip(x).map { case (a2, b2) => a2 * b2 }.sum)
    y.zip(yRef).foreach { case (got, want) =>
      assert(math.abs(got - want) < 1e-9, s"mat_vec mismatch: $got vs $want") }
  }

  test("IVF-PQ equals plain ADC at nprobe = nlist and clears its recall floor below it") {
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val cb = Pq.train(emb, col("vec_id"), col("embedding"),
      m = 16, k = kCodes, seedModulus = 31L, iters = 2)
    // full probe ⇒ identical candidates, identical integer scores
    val full = Pq.ivfAdcTopK(emb, queries, "vec_id", "embedding", cb,
        k = 10, nlist = 16, nprobe = 16)
      .as[(Long, Int, Long, Long)].collect().toSet
    val plain = Pq.adcTopK(emb, queries, "vec_id", "embedding", cb, k = 10)
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(full == plain, "nprobe=nlist IVF-PQ must reproduce plain ADC exactly")
    // partial probe: recall vs the PLAIN-ADC ranking (the coarse pruning's
    // own cost, isolated from PQ quantization error)
    val probed = Pq.ivfAdcTopK(emb, queries, "vec_id", "embedding", cb,
      k = 10, nlist = 16, nprobe = 6)
    val r = Eval.recallSummary(probed,
        Pq.adcTopK(emb, queries, "vec_id", "embedding", cb, k = 10))
      .select("macro_recall").as[Double].head()
    assert(r >= 0.5, s"IVF-PQ nprobe=6/16 recall $r below floor 0.5")
  }

  test("OPQ composes with IVF-PQ: rotate upstream, identical machinery, no recall loss") {
    // the production layout with the learned rotation: rotateVec is a plain
    // column transform, so FAISS's OPQx,IVFy,PQz chain is just function
    // composition here — train R on the corpus, rotate corpus AND queries,
    // run the unchanged IVF-PQ machinery on the rotated space
    val scaled = emb.withColumn("vs",
      zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
        (x, i) => x.cast("double") * when(i < 8, lit(8.0)).otherwise(lit(0.25))))
    val aniso = scaled.withColumn("va",
      transform(sequence(lit(0), lit(63)), i =>
        element_at(col("vs"), i + 1) +
          element_at(col("vs"), pmod(i + lit(4), lit(64)) + 1)))
    val exact = Knn.bruteForceTopK(aniso,
      aniso.filter(col("vec_id") % 50 === 0), "vec_id", "va", k = 10)
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      Eval.recallSummary(df, exact).select("macro_recall").as[Double].head()
    // plain IVF-PQ on the raw space
    val plainCb = Pq.train(aniso, col("vec_id"), col("va"),
      m = 16, k = kCodes, seedModulus = 31L, iters = 2)
    val plain = recall(Pq.ivfAdcTopK(aniso, aniso.filter(col("vec_id") % 50 === 0),
      "vec_id", "va", plainCb, k = 10, nlist = 16, nprobe = 8))
    // OPQ-rotated IVF-PQ: same nlist/nprobe, same machinery
    val (rot, opqCb) = Pq.trainOpq(aniso, col("vec_id"), col("va"),
      m = 16, k = kCodes, sampleCap = 4096, kmIters = 4, opqIters = 8)
    val anisoR = aniso.withColumn("vr", Pq.rotateVec(col("va"), rot))
    val opq = recall(Pq.ivfAdcTopK(anisoR, anisoR.filter(col("vec_id") % 50 === 0),
      "vec_id", "vr", opqCb, k = 10, nlist = 16, nprobe = 8))
    info(s"anisotropic IVF-PQ recall (nprobe=8/16): plain=$plain opq-rotated=$opq")
    // everything here is deterministic (fixed corpus, driver-sequential
    // training, fixed-sweep SVD), so the measured lift (0.43 → 0.55) pins a
    // margin: where raw-ADC top-10 saturates, the composed production
    // layout is where the rotation's 28% distortion cut actually cashes out
    assert(opq >= plain + 0.08,
      s"OPQ rotation must lift the composed IVF-PQ on correlated anisotropy: $opq vs $plain")
  }

  test("the persisted IVF-PQ index probe equals the inline form and prunes buckets") {
    val cb = Pq.syntheticCodebooks(m = 8, k = 16, w = 8)
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val tmp = tempDir("graft-ivfpq-idx")
    Knn.buildIvfIndex(emb, "vec_id", "embedding", nlist = 16,
      tableName = "ivfpq_idx_spec", path = s"$tmp/ivfpq_idx", buckets = 8,
      pqCodebooks = Some(cb))
    try {
      val probe = Knn.ivfPqProbeTopK(spark, "ivfpq_idx_spec", queries,
        "vec_id", "embedding", cb, k = 5, nprobe = 6)
      val inline = Pq.ivfAdcTopK(emb, queries, "vec_id", "embedding", cb,
        k = 5, nlist = 16, nprobe = 6)
      val p = probe.as[(Long, Int, Long, Long)].collect().toSet
      val i = inline.as[(Long, Int, Long, Long)].collect().toSet
      assert(p == i, s"persisted IVF-PQ probe diverged: only-probe=${(p -- i).take(3)} " +
        s"only-inline=${(i -- p).take(3)}")
      // sharpest probe: one query, one list — the scan must bucket-prune
      // AND read only the codes (nv/nq column-pruned away)
      val narrow = Knn.ivfPqProbeTopK(spark, "ivfpq_idx_spec",
        emb.filter(col("vec_id") === 0), "vec_id", "embedding", cb, k = 5, nprobe = 1)
      val plan = narrow.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
      assert(sel.isDefined && sel.get.group(1).toInt < sel.get.group(2).toInt,
        s"IVF-PQ probe must prune buckets:\n$plan")
      assert(!plan.contains("nv#") && !plan.contains("nq#"),
        s"codes-only probe must not read the float/int8 columns:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivfpq_idx_spec")
      spark.sql("DROP TABLE IF EXISTS ivfpq_idx_spec_centroids")
    }
  }

  test("rankOfTruth/mrrSummary: perfect self-eval, graceful misses") {
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val exact = Knn.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)
    val top1 = exact.filter(col("rank") === 1).select("query_id", "nbr_id")
    // a ranking evaluated against its own top-1 is perfect
    val self = Eval.mrrSummary(Eval.rankOfTruth(exact, top1))
      .select("n_queries", "n_found", "mrr").as[(Long, Long, Double)].head()
    assert(self._1 == self._2 && self._3 == 1.0, s"self-eval not perfect: $self")
    // drop rank 1 from the list: the truth is gone ⇒ rank_found = 0, mrr = 0
    val degraded = Eval.mrrSummary(
        Eval.rankOfTruth(exact.filter(col("rank") > 1), top1))
      .select("n_found", "mrr").as[(Long, Double)].head()
    assert(degraded == ((0L, 0.0)), s"missed-truth eval wrong: $degraded")
    // the PQ tier lands between the two and rank_found stays in [0, 10]
    val cb = Pq.train(emb, col("vec_id"), col("embedding"),
      m = 16, k = kCodes, seedModulus = 31L, iters = 2)
    val pq = Eval.rankOfTruth(
      Pq.adcTopK(emb, queries, "vec_id", "embedding", cb, k = 10), top1)
    assert(pq.filter(col("rank_found") < 0 || col("rank_found") > 10).count() == 0)
    val mrr = Eval.mrrSummary(pq).select("mrr").as[Double].head()
    assert(mrr > 0.0 && mrr <= 1.0, s"PQ mrr out of range: $mrr")
  }

  test("band-signature carries: expression carries resolve, reserved-name collisions are rejected") {
    val cb = Pq.syntheticCodebooks(m, kCodes, 8)
    val df = emb.limit(20)
    // an UNALIASED expression carry must still resolve downstream (the
    // synthetic __carry_0 stable name is aliased into the first select)
    val unaliased = Pq.codeBandSignatures(df, col("vec_id"), col("embedding"),
      cb, bands = 2, carry = Seq(col("vec_id") + 1000L))
    assert(unaliased.columns.toSeq == Seq("id", "__carry_0", "band", "band_sig"))
    assert(unaliased.filter(col("__carry_0") =!= col("id") + 1000L).count() == 0)
    // an aliased carry keeps its alias and its values
    val aliased = Pq.codeBandSignatures(df, col("vec_id"), col("embedding"),
      cb, bands = 2, carry = Seq((col("vec_id") * 2).as("evt")))
    assert(aliased.columns.toSeq == Seq("id", "evt", "band", "band_sig"))
    // a carry colliding with a reserved output name must fail LOUDLY — it
    // would otherwise clobber the code vector before banding
    for (bad <- Seq("id", "codes", "band", "band_sig")) {
      val e = intercept[IllegalArgumentException](
        Pq.codeBandSignatures(df, col("vec_id"), col("embedding"),
          cb, bands = 2, carry = Seq(lit(1).as(bad))))
      assert(e.getMessage.contains(bad), s"collision '$bad' not named: ${e.getMessage}")
    }
    // duplicate stable names across carries are rejected too
    intercept[IllegalArgumentException](
      Pq.codeBandSignatures(df, col("vec_id"), col("embedding"),
        cb, bands = 2, carry = Seq(lit(1).as("x"), lit(2).as("x"))))
  }

  test("pq_encode fails loudly on a dimension-mismatched vector (no silent truncation)") {
    import spark.implicits._
    val cb = Pq.syntheticCodebooks(m, kCodes, 8) // expects m*8 = 64 dims
    val bad = Seq((1L, Array.fill(63)(0.1f))).toDF("vec_id", "embedding")
    val e = intercept[Throwable] {
      Pq.encode(bad, col("vec_id"), col("embedding"), cb).collect()
    }
    def chain(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("63 dims")),
      s"mismatch must name the dimensions, got: ${chain(e)}")
  }

  test("registered pq98 row: OPQ clears the plain-IVF-PQ recall floor at fixed nprobe") {
    // the floor the registered rows pin: pq80's OPQ (trained codebooks +
    // learned rotation) must recover at least as many true top-10
    // neighbors as pq66's synthetic-codebook IVF-PQ at the SAME nprobe —
    // asserted on the REGISTERED row itself, so a regression in either
    // path trips here by name instead of drifting silently
    import spark.implicits._
    val row = graft.SparkEntry.queries("pq98_opq_recall_floor")(spark, sfDir)
      .agg(org.apache.spark.sql.functions.sum($"n_hit_opq").as("opq"),
        org.apache.spark.sql.functions.sum($"n_hit_pq").as("pq"),
        org.apache.spark.sql.functions.sum($"n_truth").as("truth"),
        org.apache.spark.sql.functions.count($"query_id").as("nq"))
      .as[(Long, Long, Long, Long)].head()
    val (opqHits, pqHits, truth, nq) = row
    assert(nq > 0 && truth >= nq * 10, s"fixture degenerate: nq=$nq truth=$truth")
    assert(opqHits >= pqHits,
      s"OPQ recall floor broken: opq=$opqHits < plain=$pqHits (truth=$truth)")
  }

  test("train keeps an emptied centroid in place instead of dropping it") {
    // 2 clusters of data but k=4 codebook: at least two centroids lose all
    // members in round one; the codebook must keep its k entries
    val tight = emb.limit(40)
    val cb = Pq.train(tight, col("vec_id"), col("embedding"),
      m = 2, k = 4, seedModulus = 7L, iters = 2)
    assert(cb.size == 2 && cb.forall(_.size == 4))
    assert(cb.forall(_.forall(_.size == 32)))
    // encoding against it still succeeds and stays in range
    val codes = Pq.encode(tight, col("vec_id"), col("embedding"), cb)
      .as[(Long, Seq[Long])].collect()
    assert(codes.forall(_._2.forall(c => c >= 0 && c < 4)))
  }
}
