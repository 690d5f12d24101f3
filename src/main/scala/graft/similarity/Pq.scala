package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou, Douze & Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the tier of the ANN stack that
  * actually pays for 100 TB: a d-dim float vector (d×4 bytes) becomes `m`
  * one-byte codes (one centroid id per subspace), a 32× compression at
  * d=64/m=8, and query-time scoring touches ONLY the codes via per-query
  * lookup tables (asymmetric distance computation, ADC). This completes the
  * library's quantization ladder: float ([[Knn.bruteForceTopK]]) → int8
  * ([[Knn.int8TopK]], 4×) → PQ codes (32×), each tier trading recall for
  * footprint, each rescorable by the tier above.
  *
  * Scoring decomposes EXACTLY over subspaces for the inner product:
  * `⟨q, recon(code)⟩ = Σ_s ⟨q_s, c_{s,code_s}⟩` — so ADC with per-subspace
  * dot tables is not an approximation of the reconstructed-vector dot, it
  * IS that dot. Each table entry is frozen to `floor(1e6·⟨q_s, c⟩)` BEFORE
  * the per-document sum, making every score an integer: ranking is
  * partition-order-proof and the registered query hash-matches DuckDB.
  *
  * 100 TB shape: codebooks are kilobytes (m×k×(d/m) = d×k doubles) and ride
  * a single `typedLit`; encoding is row-local (no shuffle); ADC scans the
  * code table once with queries broadcast, and the only exchange is the
  * bounded-heap top-k (partitions×queries×k fixed-width rows). Compose with
  * [[Knn.ivfAssign]] coarse pruning for the IVF-PQ layout: the scan then
  * touches only the probed lists' codes.
  */
object Pq {

  /** Codebooks as `cb(s)(c)(dim)`: `m` subspaces × `k` centroids × `d/m`
    * dims. Deterministic synthetic codebooks — a fixed pseudo-random model
    * in the pq51 sense: the registered query scores THESE (hash-exact vs an
    * oracle that regenerates them in SQL), while [[train]] is proven by
    * recall/equivalence specs.
    */
  def syntheticCodebooks(m: Int, k: Int, w: Int): Seq[Seq[Seq[Double]]] =
    Seq.tabulate(m, k, w)((s, c, dim) => ((c * 31 + dim * 17 + s * 7) % 13 - 6) / 6.0)

  private def dot(a: Column, b: Column): Column = graft.functions.vector_dot(a, b)

  /** Squared L2 via the dot identity `⟨a,a⟩ − 2⟨a,b⟩ + ⟨b,b⟩` — three
    * left-fold dots and fixed association order, so the oracle's replica
    * computes bit-identical doubles.
    */
  private def l2sq(a: Column, b: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

  /** The code vector as a pure COLUMN (row-local, stream-safe): usable
    * anywhere an expression fits — batch encode, streaming flaggers,
    * joins — without forcing the (id, codes) projection. Backed by the
    * native [[graft.plans.PqEncodeExpr]] tight loop (the declarative
    * lambda form below is kept as its equivalence oracle in PqSpec).
    */
  def codesFor(vecCol: Column, cb: Seq[Seq[Seq[Double]]]): Column =
    graft.functions.pq_encode(vecCol, cb)

  /** The pre-native declarative encoder (transform × zip_with × struct
    * argmax over the codebook literal) — interpreted-lambda slow, retained
    * as the independently-derived equivalence oracle for the native path.
    */
  private[graft] def codesForDeclarative(vecCol: Column, cb: Seq[Seq[Seq[Double]]]): Column = {
    val w = cb.head.head.size
    val cbLit = typedLit(cb)
    transform(cbLit, (subCb, s) => {
      val sv = slice(transform(vecCol, _.cast("double")), s * w + 1, lit(w))
      // max of (−d2, −c) ⇔ min of (d2, c): argmin distance, ties to smaller code
      array_max(zip_with(subCb, sequence(lit(0), lit(cb.head.size - 1)),
        (cv, c) => struct((-l2sq(sv, cv)).as("nd"), (-c).as("ncc"), c.as("c"))))
        .getField("c").cast("long")
    })
  }

  /** Encode each vector to its `m` nearest-centroid codes:
    * `(id, codes array<long>)` with `codes(s) = argmin_c ‖v_s − cb(s)(c)‖²`
    * (ties to the smaller code). Row-local — the whole codebook rides the
    * plan; nothing shuffles.
    */
  def encode(
      df: DataFrame,
      idCol: Column,
      vecCol: Column,
      cb: Seq[Seq[Seq[Double]]]): DataFrame =
    df.select(idCol.as("id"), codesFor(vecCol, cb).as("codes"))

  /** Band signatures over a code vector: the `m` codes split into `bands`
    * contiguous groups, each hashed to one signature — the PQ analog of LSH
    * band signatures (two vectors sharing a whole band of quantization
    * cells are near in every banded subspace). `(id, band, band_sig)` rows;
    * feed the history side to [[graft.streaming.StreamOps.flagAgainstPqIndex]].
    */
  def codeBandSignatures(
      df: DataFrame,
      idCol: Column,
      vecCol: Column,
      cb: Seq[Seq[Seq[Double]]],
      bands: Int,
      carry: Seq[Column] = Nil): DataFrame = {
    // `carry` rides extra columns (e.g. a stream's event time) through the
    // banding so STREAM-side signatures are built by THIS function, never a
    // hand copy — a divergent copy (separator, cast, slice origin) would
    // make (band, band_sig) keys silently stop matching the index side
    val m = cb.size
    require(m % bands == 0, s"bands=$bands must divide m=$m subspaces")
    val bandSize = m / bands
    // resolve each carry to ONE stable name (its alias, its plain-reference
    // name, or a synthetic `__carry_i` for an unaliased expression), alias
    // the first select to exactly those names, and reject collisions with
    // the reserved output columns — a carry aliased to `codes` would
    // silently clobber the code vector before banding, and an unaliased
    // expression carry would otherwise be unresolvable downstream
    val carryNames = graft.operators.Compaction.stableNames(carry, "__carry")
    val reserved = Seq("id", "codes", "band", "band_sig")
    require(carryNames.distinct.size == carryNames.size,
      s"carry stable names collide with each other: $carryNames")
    carryNames.find(reserved.contains).foreach(n =>
      throw new IllegalArgumentException(
        s"carry column name '$n' collides with a reserved output name " +
          s"(${reserved.mkString(", ")}) — alias the carry differently"))
    val aliased = carry.zip(carryNames).map { case (c, n) => c.as(n) }
    df.select(idCol.as("id") +: (aliased :+ codesFor(vecCol, cb).as("codes")): _*)
      .select(col("id") +: (carryNames.map(col) ++
        Seq(explode(sequence(lit(0), lit(bands - 1))).as("band"), col("codes"))): _*)
      .withColumn("band_sig",
        md5(concat_ws(",",
          transform(slice(col("codes"), col("band") * bandSize + 1, lit(bandSize)),
            _.cast("string")))))
      .select(col("id") +: (carryNames.map(col) ++
        Seq(col("band"), col("band_sig"))): _*)
  }

  /** ADC top-k: score every encoded corpus row against each query through
    * the query's frozen dot table and keep the top `k` by
    * `(score_fp desc, nbr_id asc)`. Output: `(query_id, rank, nbr_id,
    * score_fp)` with `score_fp = Σ_s floor(1e6·⟨q_s, c_{s,code_s}⟩)` — an
    * exact integer, hash-checkable.
    */
  def adcTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      cb: Seq[Seq[Seq[Double]]],
      k: Int): DataFrame = {
    val enc = encode(corpus, col(idCol), col(vecCol), cb)
      .select(col("id").as("nbr_id"), col("codes"))
    val q = broadcast(queryTables(queries, idCol, vecCol, cb))
    val scored = enc.join(q, col("query_id") =!= col("nbr_id"))
      .withColumn("score_fp",
        aggregate(zip_with(col("codes"), col("qtab"),
          (c, tab) => element_at(tab, (c + 1).cast("int"))), lit(0L), _ + _))
    // the integer rides the heap's double exactly: |score_fp| ≤ m·1e6·max|dot| ≪ 2^53
    Knn.rankTopK(scored, "score_fp", k, longScore = true)
  }

  /** Per-query frozen dot tables `(query_id, qtab)` — `qtab(s)(c) =
    * floor(1e6·⟨q_s, cb(s)(c)⟩)`, the ADC lookup rows both [[adcTopK]] and
    * [[ivfAdcTopK]] broadcast.
    */
  private[similarity] def queryTables(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      cb: Seq[Seq[Seq[Double]]]): DataFrame = {
    val w = cb.head.head.size
    val cbLit = typedLit(cb)
    val qtab = transform(cbLit, (subCb, s) =>
      transform(subCb, cv => floor(lit(1e6) *
        dot(slice(transform(col(vecCol), _.cast("double")), s * w + 1, lit(w)), cv))
        .cast("long")))
    queries.select(col(idCol).as("query_id"), qtab.as("qtab"))
  }

  /** IVF-PQ: the coarse inverted file ([[Knn.ivfTopK]]'s nlist/nprobe
    * pruning) over PQ codes instead of floats — the layout a production
    * 100 TB ANN index actually ships (FAISS `IVFx,PQy`). Each query probes
    * its `nprobe` nearest coarse lists and ADC-scores ONLY those lists'
    * codes: the scanned fraction is nprobe/nlist of an already-32×-
    * compressed table. With `nprobe = nlist` the result is exactly
    * [[adcTopK]] (PqSpec asserts it); recall at nprobe < nlist is floored
    * in the spec, same contract as pq14/pq35.
    */
  def ivfAdcTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      cb: Seq[Seq[Seq[Double]]],
      k: Int,
      nlist: Int,
      nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist, s"nprobe=$nprobe must be in [1, nlist=$nlist]")
    val cents = Knn.ivfCentroids(corpus, idCol, vecCol, nlist)
    val index = Knn.ivfAssign(corpus, idCol, vecCol, cents)
      .join(encode(corpus, col(idCol), col(vecCol), cb), Seq("id"))
      .select(col("id").as("nbr_id"), col("cid"), col("codes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("ccos").desc, col("cid").asc)
    val qprobes = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .crossJoin(broadcast(cents))
      .withColumn("ccos", graft.dedup.Dedup.cosine(col("qv"), col("cvec")))
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("cid"))
    val scored = index.join(broadcast(qprobes), Seq("cid"))
      .filter(col("query_id") =!= col("nbr_id"))
      .join(broadcast(queryTables(queries, idCol, vecCol, cb)), "query_id")
      .withColumn("score_fp",
        aggregate(zip_with(col("codes"), col("qtab"),
          (c, tab) => element_at(tab, (c + 1).cast("int"))), lit(0L), _ + _))
    Knn.rankTopK(scored, "score_fp", k, longScore = true)
  }

  /** The production two-stage form: ADC shortlist (`shortlist` candidates
    * per query, codes only) → EXACT cosine rescore of just those
    * candidates. Recall becomes "was the true neighbor anywhere in the
    * shortlist" (0.82–0.88 at shortlist=5·k on the test embeddings vs
    * 0.26–0.44 for raw ADC ranks), while the corpus-scale scan still
    * touches nothing but the m-byte codes; the float fetch is a join of
    * queries×shortlist ids — bounded, never corpus-shaped.
    */
  def adcRescoreTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      cb: Seq[Seq[Seq[Double]]],
      shortlist: Int,
      k: Int): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be ≥ k=$k")
    val cand = adcTopK(corpus, queries, idCol, vecCol, cb, shortlist)
      .select(col("query_id"), col("nbr_id"))
    val fetched = cand.join(
      corpus.select(col(idCol).as("nbr_id"), col(vecCol).as("nv")), "nbr_id")
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val scored = fetched.join(q, "query_id")
      .withColumn("cos_r", round(graft.dedup.Dedup.cosine(col("qv"), col("nv")), 4))
    Knn.rankTopK(scored, "cos_r", k)
  }

  /** Train per-subspace codebooks by `iters` rounds of L2 k-means over the
    * sub-vectors, seeded deterministically (the sub-vectors of the first
    * `k` ids with `id % seedModulus == 0`, id-ascending — pq39's seeding
    * contract). Centroid updates use the same fixed-point mean as
    * [[Knn.kmeansAssignByCosine]] (`floor(x·1e6)` sums / n), so training is
    * partition-order-proof; a centroid that loses all members keeps its
    * previous position. Per round: one row-local assignment scan + one
    * (sub, code, dim)-keyed partial agg over (m·d/m)=d-wide rows — the
    * corpus never shuffles by content.
    */
  /** OPQ-lite dimension permutation (the "balanced variance" initialization
    * of Ge et al., "Optimized Product Quantization", CVPR 2013 — the cheap,
    * deterministic member of the OPQ family): order dimensions by variance
    * and deal them greedily onto the `m` subspaces so each subspace carries
    * ~equal total variance. A PQ codebook spends k centroids PER SUBSPACE;
    * when the natural dim order concentrates the variance in a few
    * subspaces, their quantization error dominates every ADC score while
    * the quiet subspaces waste their centroid budget. A permutation is an
    * orthogonal rotation restricted to axis swaps: inner products are
    * preserved exactly (apply the same permutation to queries), it needs no
    * SVD, and it is bit-reproducible — so unlike a learned dense rotation
    * it keeps the oracle/hash-exactness story intact.
    *
    * Cost: ONE per-dim variance census (d doubles on the driver — the
    * k-means-residency contract) and a d-entry literal in the plan.
    * Returns `perm` with `perm(i)` = the source dim at permuted position i
    * (positions grouped by subspace: [0, w) is subspace 0, etc.).
    */
  def balancedPermutation(df: DataFrame, vecCol: Column, m: Int): Seq[Int] = {
    // census frozen to the repo's fixed-point convention (long sums of
    // floor(x·1e6), divide on the driver — kmeansAssignFull's centroid-mean
    // shape): double avg() sums are partition-order-dependent, and a
    // near-tied pair of dim variances could otherwise reorder the greedy
    // assignment across runs, silently changing codebooks and codes
    val rows = df
      .select(posexplode(transform(vecCol, _.cast("double"))).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("x") * lit(1e6)).cast("long")).as("sx"),
        sum(floor(col("x") * col("x") * lit(1e6)).cast("long")).as("sxx"))
      .collect()
      .map { r =>
        val n = r.getLong(1).toDouble
        val mu = r.getLong(2).toDouble / n / 1e6
        (r.getInt(0), r.getLong(3).toDouble / n / 1e6 - mu * mu)
      }
    val d = rows.length
    require(d % m == 0, s"dim $d not divisible by m=$m subspaces")
    greedyBalance(rows.toSeq, m, d / m)
  }

  /** The balanced-variance greedy shared by [[balancedPermutation]] and
    * [[trainOpq]]'s init — ONE implementation so the tie-breaking can never
    * drift between the distributed census path and the driver-sample path:
    * largest-variance dim first, each to the least-loaded subspace with a
    * free slot (ties → smaller subspace id), source-dim order within a
    * subspace.
    */
  private def greedyBalance(variances: Seq[(Int, Double)], m: Int, w: Int): Seq[Int] = {
    val load = Array.fill(m)(0.0)
    val slots = Array.fill(m)(0)
    val assigned = Array.fill(m)(List.empty[Int])
    variances.sortBy { case (dim, v) => (-v, dim) }.foreach { case (dim, v) =>
      val s = (0 until m).filter(slots(_) < w).minBy(i => (load(i), i))
      load(s) += v
      slots(s) += 1
      assigned(s) = dim :: assigned(s)
    }
    assigned.toSeq.flatMap(_.sorted)
  }

  /** Per-subspace L2 k-means over in-memory rows (sequential, ties to the
    * smaller code, an emptied cluster keeps its centroid — pq39's rules);
    * seeds are the first `k` rows' subvectors. Used by [[trainOpq]]'s
    * alternating loop (HISTORY.md, "Retired probes", has the per-iteration
    * distortion diagnostic that also ran it).
    */
  private def driverKmeans(
      xr: Array[Array[Double]], m: Int, k: Int, w: Int, iters: Int): Array[Array[Array[Double]]] = {
    val cb = Array.tabulate(m, k)((s, c) =>
      java.util.Arrays.copyOfRange(xr(c), s * w, (s + 1) * w))
    for (_ <- 1 to iters; s <- 0 until m) {
      val base = s * w
      val sums = Array.fill(k, w)(0.0)
      val counts = new Array[Int](k)
      xr.foreach { x =>
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < k) {
          var acc = 0.0; var j = 0
          while (j < w) { val t = x(base + j) - cb(s)(c)(j); acc += t * t; j += 1 }
          if (acc < bestD) { best = c; bestD = acc }
          c += 1
        }
        var j = 0
        while (j < w) { sums(best)(j) += x(base + j); j += 1 }
        counts(best) += 1
      }
      for (c <- 0 until k if counts(c) > 0; j <- 0 until w)
        cb(s)(c)(j) = sums(c)(j) / counts(c)
    }
    cb
  }

  /** Nearest-centroid reconstruction of one (already-rotated) row. */
  private def driverReconstruct(
      cb: Array[Array[Array[Double]]], x: Array[Double], m: Int, w: Int): Array[Double] = {
    val k = cb.head.length
    val d = m * w
    val y = new Array[Double](d)
    var s = 0
    while (s < m) {
      val base = s * w
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < k) {
        var acc = 0.0; var j = 0
        while (j < w) { val t = x(base + j) - cb(s)(c)(j); acc += t * t; j += 1 }
        if (acc < bestD) { best = c; bestD = acc }
        c += 1
      }
      System.arraycopy(cb(s)(best), 0, y, base, w)
      s += 1
    }
    y
  }

  /** Per-dim variances of in-memory rows (sequential sums — deterministic
    * over the id-ordered sample without fixed-point freezing).
    */
  private def sampleVariances(x: Array[Array[Double]], d: Int): Seq[(Int, Double)] = {
    val n = x.length.toDouble
    (0 until d).map { j =>
      var sx = 0.0; var sxx = 0.0
      x.foreach { v => sx += v(j); sxx += v(j) * v(j) }
      (j, sxx / n - (sx / n) * (sx / n))
    }
  }

  /** Reorder a vector column by `perm` (from [[balancedPermutation]]):
    * row-local `array(element_at...)` — no shuffle, same element type.
    * Apply to corpus AND queries; dots/cosines are permutation-invariant.
    */
  def permuteVec(vec: Column, perm: Seq[Int]): Column =
    array(perm.map(p => element_at(vec, p + 1)): _*)

  /** [[train]] with the balanced permutation applied first: returns
    * `(perm, codebooks)` where the codebooks live in PERMUTED dim order —
    * encode/score with `permuteVec(vec, perm)` on both corpus and queries.
    */
  def trainBalanced(
      df: DataFrame,
      idCol: Column,
      vecCol: Column,
      m: Int,
      k: Int,
      seedModulus: Long,
      iters: Int): (Seq[Int], Seq[Seq[Seq[Double]]]) = {
    val perm = balancedPermutation(df, vecCol, m)
    val cb = train(df.withColumn("__pv", permuteVec(vecCol, perm)),
      idCol, col("__pv"), m, k, seedModulus, iters)
    (perm, cb)
  }

  /** Apply a dense rotation to a vector column: `y(i) = Σ_j rot(i)(j)·x(j)`,
    * row-local via the native [[graft.plans.MatVecExpr]] — the d×d matrix
    * rides the plan once, nothing shuffles. Apply the SAME rotation to
    * corpus and queries; inner products are rotation-invariant.
    */
  def rotateVec(vec: Column, rot: Seq[Seq[Double]]): Column =
    graft.functions.mat_vec(vec, rot)

  /** [[balancedPermutation]] as a rotation matrix (`rotate(x)(i) =
    * x(perm(i))`) — the axis-swap member of the orthogonal group, and
    * [[trainOpq]]'s initialization.
    */
  def permutationMatrix(perm: Seq[Int]): Seq[Seq[Double]] =
    perm.map(p => Seq.tabulate(perm.size)(j => if (j == p) 1.0 else 0.0))

  /** FULL OPQ (Ge et al., "Optimized Product Quantization", CVPR 2013 —
    * the non-parametric alternating optimization): learn a dense orthogonal
    * rotation R and codebooks jointly by alternating
    *   (1) codebooks ← per-subspace k-means over the rotated sample,
    *   (2) R ← argmin_R Σ‖R·x − recon(code(x))‖² — the orthogonal
    *       Procrustes solution `R = V·Uᵀ` from the SVD of the
    *       data×reconstruction correlation `B = Σ x·yᵀ = U·S·Vᵀ`,
    * initialized from the balanced-variance permutation (the OPQ-lite tier,
    * so the learned R can only refine it). Where the permutation only
    * equalizes per-dim variance across subspaces, the learned R also
    * DECORRELATES dims into the subspace blocks — the remaining recall gap
    * on anisotropic data (PqSpec pins the lift).
    *
    * TRAINING is driver-resident over a bounded id-ascending sample —
    * `sampleCap` × d doubles, the industry contract for OPQ/k-means
    * training (FAISS trains on an in-memory sample of ~10⁵ vectors
    * regardless of index size) and this library's k-means-residency rule.
    * Everything corpus-scale — [[rotateVec]], [[codesFor]], ADC scoring —
    * stays distributed and row-local; R and the codebooks ride the plan as
    * literals. Deterministic end to end: the sample is id-ordered, the
    * driver loops are sequential, the Jacobi SVD sweeps in fixed order.
    *
    * Returns `(rotation, codebooks)`; encode/score with
    * `rotateVec(vec, rotation)` on BOTH corpus and queries.
    */
  def trainOpq(
      df: DataFrame,
      idCol: Column,
      vecCol: Column,
      m: Int,
      k: Int,
      sampleCap: Int,
      kmIters: Int,
      opqIters: Int): (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    // bounded driver residency: sampleCap × d doubles (documented contract)
    val X: Array[Array[Double]] = df
      .select(idCol.as("id"), transform(vecCol, _.cast("double")).as("v"))
      .orderBy(col("id")).limit(sampleCap)
      .collect().map(_.getSeq[Double](1).toArray)
    require(X.length >= k, s"sample ${X.length} < k=$k codewords")
    val d = X.head.length
    require(d % m == 0, s"dim $d not divisible by m=$m subspaces")
    val w = d / m

    def matvec(r: Array[Array[Double]], x: Array[Double]): Array[Double] = {
      val y = new Array[Double](d)
      var i = 0
      while (i < d) {
        var acc = 0.0; var j = 0
        val row = r(i)
        while (j < d) { acc += row(j) * x(j); j += 1 }
        y(i) = acc; i += 1
      }
      y
    }

    // init: the balanced-variance permutation of the SAMPLE (the SHARED
    // greedy over sequential sample variances — deterministic over the
    // id-ordered sample without fixed-point freezing)
    val perm = greedyBalance(sampleVariances(X, d), m, w)
    var r: Array[Array[Double]] =
      permutationMatrix(perm).map(_.toArray).toArray

    for (_ <- 1 to opqIters) {
      val xr = X.map(matvec(r, _))
      val cb = driverKmeans(xr, m, k, w, kmIters)
      val y = xr.map(driverReconstruct(cb, _, m, w))
      // B(a)(b) = Σ_i x_i(a)·y_i(b); R = V·Uᵀ maximizes tr(R·B)
      val b = Array.fill(d, d)(0.0)
      var i = 0
      while (i < X.length) {
        val xi = X(i); val yi = y(i)
        var a = 0
        while (a < d) {
          val xa = xi(a); val row = b(a)
          var bb = 0
          while (bb < d) { row(bb) += xa * yi(bb); bb += 1 }
          a += 1
        }
        i += 1
      }
      Svd.decompose(b).foreach { case (u, v) =>
        // R = V·Uᵀ
        val nr = Array.fill(d, d)(0.0)
        var a = 0
        while (a < d) {
          var c = 0
          while (c < d) {
            var acc = 0.0; var j = 0
            while (j < d) { acc += v(a)(j) * u(c)(j); j += 1 }
            nr(a)(c) = acc; c += 1
          }
          a += 1
        }
        r = nr
      } // degenerate correlation (rank-deficient): keep the previous R
    }
    val cb = driverKmeans(X.map(matvec(r, _)), m, k, w, kmIters)
    (r.map(_.toSeq).toSeq, cb.map(_.map(_.toSeq).toSeq).toSeq)
  }

  /** Mean `‖R·x − recon(code(R·x))‖²` over a bounded id-ascending sample —
    * the objective [[trainOpq]] minimizes, as a measurable diagnostic
    * (PqSpec pins that the learned rotation beats the permutation tier on
    * it). Pass [[permutationMatrix]] (or an identity) to measure a
    * permutation/plain codebook on the same scale.
    */
  def quantizationDistortion(
      df: DataFrame,
      idCol: Column,
      vecCol: Column,
      rot: Seq[Seq[Double]],
      cb: Seq[Seq[Seq[Double]]],
      sampleCap: Int): Double = {
    val X = df.select(idCol.as("id"), transform(vecCol, _.cast("double")).as("v"))
      .orderBy(col("id")).limit(sampleCap)
      .collect().map(_.getSeq[Double](1).toArray)
    val d = rot.size
    val m = cb.size
    val w = cb.head.head.size
    val r = rot.map(_.toArray).toArray
    val cents = cb.map(_.map(_.toArray).toArray).toArray
    val k = cents.head.length
    var total = 0.0
    X.foreach { x =>
      val xr = new Array[Double](d)
      var i = 0
      while (i < d) {
        var acc = 0.0; var j = 0
        while (j < d) { acc += r(i)(j) * x(j); j += 1 }
        xr(i) = acc; i += 1
      }
      var s = 0
      while (s < m) {
        val base = s * w
        var bestD = Double.MaxValue; var c = 0
        while (c < k) {
          var acc = 0.0; var j = 0
          while (j < w) { val t = xr(base + j) - cents(s)(c)(j); acc += t * t; j += 1 }
          if (acc < bestD) bestD = acc
          c += 1
        }
        total += bestD
        s += 1
      }
    }
    total / X.length
  }

  def train(
      df: DataFrame,
      idCol: Column,
      vecCol: Column,
      m: Int,
      k: Int,
      seedModulus: Long,
      iters: Int): Seq[Seq[Seq[Double]]] = {
    val pts = df.select(idCol.as("id"), transform(vecCol, _.cast("double")).as("v"))
    val d = pts.select(size(col("v"))).head().getInt(0)
    require(d % m == 0, s"dim $d not divisible by m=$m subspaces")
    val w = d / m
    val seeds = pts.filter(col("id") % seedModulus === 0)
      .orderBy(col("id")).limit(k).select(col("v"))
      .collect().map(_.getSeq[Double](0))
    require(seeds.length == k,
      s"seedModulus=$seedModulus yields ${seeds.length} < k=$k seed vectors")
    var cb: Seq[Seq[Seq[Double]]] =
      Seq.tabulate(m, k)((s, c) => seeds(c).slice(s * w, (s + 1) * w).toSeq)
    for (_ <- 1 to iters) {
      val means = encode(pts, col("id"), col("v"), cb)
        .join(pts, Seq("id"))
        .select(posexplode(col("v")).as(Seq("gdim", "x")), col("codes"))
        .select((col("gdim") / w).cast("int").as("s"),
          pmod(col("gdim"), lit(w)).as("dim"), col("x"),
          element_at(col("codes"), (col("gdim") / w).cast("int") + 1).as("code"))
        .groupBy(col("s"), col("code"), col("dim"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("x") * lit(1e6)).cast("long")).as("sx"))
        .select(col("s"), col("code"), col("dim"),
          (col("sx").cast("double") / col("n") / lit(1e6)).as("c"))
        .collect()
        .map(r => ((r.getInt(0), r.getLong(1).toInt, r.getInt(2)), r.getDouble(3)))
        .toMap
      cb = Seq.tabulate(m, k, w)((s, c, dim) =>
        means.getOrElse((s, c, dim), cb(s)(c)(dim)))
    }
    cb
  }
}
