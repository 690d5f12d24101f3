package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.TextFunctions.portable_hash

/** Deduplication operators for corpus pipelines, in increasing fuzziness:
  * exact → minhash/LSH → simhash → n-gram Jaccard → embedding cosine.
  *
  * Scale stance (100 TB): every operator here is a linear scan plus
  * shuffle-on-bucket; nothing materializes an O(n²) pair space. Candidate
  * generation happens inside hash buckets (LSH bands / simhash blocks /
  * blocking keys), so the quadratic step only runs within small groups.
  */
object Dedup {

  /** Exact dedup by content hash: keeps the minimum id per distinct content.
    * One partial-aggregatable shuffle on the 128-bit hash, never on the full
    * text (the map side reduces each partition to one row per hash first).
    */
  def exactByContent(df: DataFrame, idCol: Column, contentCol: Column): DataFrame =
    df.groupBy(md5(contentCol).as("content_hash"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Canonical text form for fuzzy-exact dedup: lowercase, non-alphanumerics
    * to spaces, whitespace runs collapsed, trimmed — catches dups that differ
    * only in case/punctuation/spacing, the cheap tier between exact hashing
    * and minhash. Row-local; RE2-compatible patterns so the DuckDB oracle
    * applies the identical transform.
    *
    * Documents with no `[a-z0-9]` content at all (non-Latin scripts, the
    * schema's own zh stratum; punctuation-only docs) reduce to the empty
    * string — without a fallback they would ALL merge into one dedup group
    * and the keeper election would silently delete the entire non-Latin
    * corpus but one doc. Such docs key on their lowercased raw text instead
    * (case-insensitive exact dedup — conservative, never cross-doc lossy).
    */
  def canonicalize(text: Column): Column =
    graft.functions.toColumn(
      graft.plans.CanonicalizeText(graft.functions.toExpr(text)))

  /** The declarative twin of [[canonicalize]] — value-identical by
    * DedupSpec's equivalence test; kept as the executable specification of
    * the native expression's contract (it is what the DuckDB oracle
    * replays). Not used on hot paths: the CaseWhen evaluates the regex
    * chain twice (no CSE across condition/branches — measured +40%).
    */
  private[graft] def canonicalizeDeclarative(text: Column): Column = {
    val c = trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))
    when(c === "", lower(text)).otherwise(c)
  }

  /** Exact dedup on the canonical form — same single partial-agg shuffle as
    * [[exactByContent]], keyed by md5 of [[canonicalize]].
    */
  def exactByCanonicalContent(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.groupBy(md5(canonicalize(textCol)).as("canonical_hash"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Modulus of the minhash double-hashing family (2^31-1, prime). */
  val MinHashP = 2147483647L

  /** MinHash signatures: k hash functions over character `shingleSize`-grams,
    * derived by double hashing `(h1 + i*h2) mod P` from two 60-bit halves of
    * ONE md5 per distinct shingle (hex chars 1-15 and 16-30) — same trick the
    * CMS uses; the family stays engine-portable for the oracle. The whole
    * signature is computed by ONE native expression per row
    * ([[graft.plans.MinHashSigs]]) — no shingle explode, no groupBy shuffle.
    */
  /** Wide form of [[minHashSignatures]]: one row per doc with columns
    * `mh0..mh{k-1}`. Banding consumes this form without any shuffle.
    */
  def minHashSignaturesWide(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      k: Int,
      shingleSize: Int): DataFrame =
    df.select(idCol.as("id"),
        graft.functions.minhash_sigs(textCol, shingleSize, k).as("__mh"))
      // null text drops the doc, as the declarative explode did
      .filter(col("__mh").isNotNull)
      .select(col("id") +: (0 until k).map(i => col("__mh")(i).as(s"mh$i")): _*)

  /** The pre-native declarative signature pipeline (explode distinct
    * shingles → Catalyst md5/conv → k min-aggs in one groupBy); bit-identical
    * to [[minHashSignaturesWide]] (asserted in DedupSpec), kept as the
    * equivalence oracle for the native expression.
    */
  private[graft] def declarativeMinHashSignaturesWide(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      k: Int,
      shingleSize: Int): DataFrame = {
    val shingled = df
      .select(idCol.as("id"),
        explode(array_distinct(
          graft.functions.TextFunctions.char_ngrams(textCol, shingleSize))).as("sh"))
      .withColumn("__md5", md5(col("sh")))
      .withColumn("h1", conv(substring(col("__md5"), 1, 15), 16, 10).cast("long") % MinHashP)
      .withColumn("h2", conv(substring(col("__md5"), 16, 15), 16, 10).cast("long") % MinHashP)
    val aggs = (0 until k).map(i =>
      min((col("h1") + lit(i.toLong) * col("h2")) % MinHashP).as(s"mh$i"))
    shingled.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  def minHashSignatures(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      k: Int,
      shingleSize: Int): DataFrame =
    minHashSignaturesWide(df, idCol, textCol, k, shingleSize)
      .selectExpr("id",
        s"stack($k, ${(0 until k).map(i => s"$i, mh$i").mkString(", ")}) as (hi, mh)")

  /** LSH banding: group the k signature rows into `bands` bands; a band's
    * signature is the md5 of its ordered minhashes. Documents sharing any
    * (band, signature) are near-dup candidates — the classic
    * shingle→minhash→band→bucket-join pipeline, one shuffle per stage.
    */
  def lshBandSignatures(signatures: DataFrame, k: Int, bands: Int): DataFrame = {
    require(bands > 0 && k % bands == 0,
      s"k=$k must be a positive multiple of bands=$bands (uneven bands silently shift the similarity threshold)")
    val rowsPerBand = k / bands
    signatures
      .withColumn("band", (col("hi") / rowsPerBand).cast("int"))
      .groupBy(col("id"), col("band"))
      .agg(md5(array_join(
        transform(array_sort(collect_list(struct(col("hi"), col("mh")))), x => x.getField("mh").cast("string")),
        ",")).as("band_sig"))
  }

  /** Band signatures straight from the wide form — identical values to
    * [[lshBandSignatures]] (md5 of the band's minhashes joined by ","), but
    * computed row-local with no collect_list shuffle: stack() emits the
    * `bands` rows per doc in one projection.
    */
  def lshBandSignaturesWide(
      wideSignatures: DataFrame,
      k: Int,
      bands: Int,
      carry: Seq[String] = Nil): DataFrame = {
    require(bands > 0 && k % bands == 0,
      s"k=$k must be a positive multiple of bands=$bands (uneven bands silently shift the similarity threshold)")
    val rowsPerBand = k / bands
    val stackArgs = (0 until bands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => s"cast(mh$i as string)").mkString(", ")
      s"$b, md5(concat_ws(',', $cols))"
    }.mkString(", ")
    wideSignatures.selectExpr(
      "id" +: carry :+ s"stack($bands, $stackArgs) as (band, band_sig)": _*)
  }

  /** Candidate near-dup pairs from shared band signatures (a < b). */
  def lshCandidatePairs(bandSigs: DataFrame): DataFrame = {
    val a = bandSigs.select(col("band").as("band_a"), col("band_sig").as("sig_a"), col("id").as("id_a"))
    val b = bandSigs.select(col("band").as("band_b"), col("band_sig").as("sig_b"), col("id").as("id_b"))
    a.join(b, col("band_a") === col("band_b") && col("sig_a") === col("sig_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** SimHash (bits-bit) over whitespace tokens: per bit, majority vote of
    * token-hash bits, computed by ONE native expression per row
    * ([[graft.plans.SimHash]]) — no token×bit row explosion, no shuffle.
    * Near-dups then compare by Hamming distance; at scale candidates come
    * from banding the simhash bits, not from all-pairs.
    */
  def simHash(df: DataFrame, idCol: Column, textCol: Column, bits: Int = 32): DataFrame =
    df.select(idCol.as("id"),
        graft.functions.sim_hash(textCol, bits).as("simhash"))
      // null text drops the doc, as the declarative explode did
      .filter(col("simhash").isNotNull)

  /** The pre-native declarative simhash pipeline (explode tokens × explode
    * bits → two-level groupBy); bit-identical to [[simHash]] (asserted in
    * DedupSpec), kept as the equivalence oracle for the native expression.
    */
  private[graft] def declarativeSimHash(
      df: DataFrame, idCol: Column, textCol: Column, bits: Int): DataFrame = {
    val toks = df.select(idCol.as("id"), explode(split(textCol, " ")).as("tok"))
      .withColumn("h", portable_hash(col("tok")))
    toks
      .select(col("id"), explode(sequence(lit(0), lit(bits - 1))).as("b"), col("h"))
      .withColumn("bit", expr("shiftright(h, cast(b as int)) & 1"))
      .groupBy(col("id"), col("b"))
      .agg(sum(col("bit") * 2 - 1).as("vote"))
      .groupBy(col("id"))
      .agg(sum(when(col("vote") >= 0, expr("shiftleft(1L, cast(b as int))")).otherwise(0L)).as("simhash"))
  }

  /** Pairs within Hamming distance `maxDist` of each other's simhash,
    * blocked by a grouping column to bound the pair space.
    */
  def simHashNearPairs(simhashes: DataFrame, blockCol: Column, maxDist: Int): DataFrame = {
    val a = simhashes.select(blockCol.as("blk"), col("id").as("id_a"), col("simhash").as("sh_a"))
    val b = simhashes.select(blockCol.as("blk2"), col("id").as("id_b"), col("simhash").as("sh_b"))
    a.join(b, col("blk") === col("blk2") && col("id_a") < col("id_b"))
      .withColumn("dist", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Scale path for simhash candidates: split the `bits`-bit simhash into
    * `bands` contiguous bit-bands; two documents within Hamming distance
    * `bands-1` must agree on at least one whole band (pigeonhole), so
    * shuffling on (band index, band value) finds all such pairs with a
    * linear scan + bucket join — no blocked cross product. Verify candidates
    * with the exact Hamming distance afterwards.
    */
  def simHashBandedPairs(
      simhashes: DataFrame,
      bits: Int,
      bands: Int,
      maxDist: Int,
      blockCol: Option[Column] = None): DataFrame = {
    require(maxDist < bands, "pigeonhole guarantee needs maxDist < bands")
    // bands > bits would make every band mask 0 bits (all docs share band
    // value 0 = the full cross product, silently); a non-dividing bands
    // would leave the top bits % bands bits outside every band
    require(bands >= 1 && bands <= bits && bits % bands == 0,
      s"bands=$bands must divide bits=$bits")
    val bandBits = bits / bands
    val mask = (1L << bandBits) - 1
    // optional extra blocking key (e.g. language): pairs must also agree on
    // it, which keeps output identical to the blocked-exhaustive form while
    // the bucket join stays linear-scan-shaped
    val base = blockCol match {
      case Some(c) => simhashes.select(col("id"), col("simhash"), c.as("__blk"))
      case None    => simhashes.select(col("id"), col("simhash"), lit(1).as("__blk"))
    }
    val banded = base.select(
      col("id"), col("simhash"), col("__blk"),
      explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("band_val", expr(s"shiftright(simhash, cast(band * $bandBits as int))").bitwiseAND(lit(mask)))
    val a = banded.select(col("band").as("band_a"), col("band_val").as("bv_a"),
      col("__blk").as("blk_a"), col("id").as("id_a"), col("simhash").as("sh_a"))
    val b = banded.select(col("band").as("band_b"), col("band_val").as("bv_b"),
      col("__blk").as("blk_b"), col("id").as("id_b"), col("simhash").as("sh_b"))
    a.join(b, col("band_a") === col("band_b") && col("bv_a") === col("bv_b") &&
        col("blk_a") === col("blk_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("dist"))
      // Hamming filter BEFORE the pair dedup: dist is a function of the
      // pair, so the order is semantics-free, but the distinct's exchange
      // then carries only survivors instead of every band collision — at
      // narrow band widths (16-bit/4-band) that is ~10× fewer rows
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** Word n-gram Jaccard similarity for candidate pairs, blocked by `blockCol`.
    * The threshold comparison is done in exact integer cross-multiplication
    * (inter * den >= num * union), so no float is ever compared.
    *
    * `maxDocFreq`: drop grams appearing in more than this many documents OF
    * THE SAME BLOCK (document frequency is per (block, gram) — stop-grams
    * are block-local, e.g. language-specific) BEFORE sizes and intersections
    * are counted; similarity is then Jaccard over each document's
    * informative grams — a well-defined, deterministic variant, mirrored
    * exactly in the oracle SQL. Without a cutoff, stopword
    * n-grams give the inverted-index self-join quadratic hot keys: a gram in
    * f docs contributes f² join rows, and at 100 TB the most frequent grams
    * alone would dominate the shuffle. With DF ≤ f₀ every gram contributes
    * ≤ f₀² rows — linear in corpus size.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      blockCol: Column,
      n: Int,
      thresholdNum: Int,
      thresholdDen: Int,
      maxDocFreq: Option[Long] = None): DataFrame = {
    // grams as native 60-bit hashes (one byte-range-md5 pass per doc, no
    // window strings): the inverted index and every downstream shuffle key
    // on 8-byte values; per-doc distinct applies on the hash array
    val allGrams = df.select(idCol.as("id"), blockCol.as("blk"),
        explode(array_distinct(
          graft.functions.word_ngram_hashes(textCol, n))).as("g"))
    val (sizes, inter) = maxDocFreq match {
      case None =>
        val sz = allGrams.groupBy(col("id")).agg(count(lit(1)).as("sz")) // grams distinct already
        val in = allGrams.as("x").join(allGrams.as("y"),
            col("x.g") === col("y.g") && col("x.blk") === col("y.blk") && col("x.id") < col("y.id"))
          .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
          .agg(count(lit(1)).as("inter"))
        (sz, in)
      case Some(f0) =>
        // posting-list form: ONE groupBy builds the inverted index, the DF
        // cutoff bounds every posting list at f0 ids, and candidate pairs
        // explode from each list in a narrow stage — no gram self-join at
        // all. Grams are distinct per doc, so list length == document
        // frequency. The collect is the CAPPED aggregate, not collect_list:
        // a collect-then-filter would materialize a stop-gram's full
        // posting array (f ids for a gram in f docs — unbounded) in one
        // aggregation buffer just to discard it; the capped buffer is
        // O(f0) per gram and collapses to an overflow bit past the cutoff,
        // with no second gram-table shuffle (a count-first pre-pass costs
        // one). Sizes count each doc's surviving (informative) grams, so
        // the Jaccard is over DF-pruned gram sets on both engines.
        require(f0 <= Int.MaxValue - 1, s"maxDocFreq=$f0 exceeds the capped-buffer range")
        // the capped buffer stores longs — a string id would null-cast and
        // silently vanish from every posting list
        graft.functions.requireIntegralId(df, idCol, "ngramJaccardPairs(maxDocFreq)")
        val postings = allGrams.groupBy(col("blk"), col("g"))
          .agg(graft.functions.capped_collect_longs(col("id"), f0.toInt).as("ids"))
          .filter(col("ids").isNotNull)
        val sz = postings.select(explode(col("ids")).as("id"))
          .groupBy(col("id")).agg(count(lit(1)).as("sz"))
        val in = postings.filter(size(col("ids")) >= 2)
          .select(explode(col("ids")).as("id_a"), col("ids"))
          .select(col("id_a"), explode(col("ids")).as("id_b"))
          .filter(col("id_a") < col("id_b"))
          .groupBy(col("id_a"), col("id_b"))
          .agg(count(lit(1)).as("inter"))
        (sz, in)
    }
    inter
      .join(sizes.as("sa"), col("id_a") === col("sa.id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.id"))
      .withColumn("uni", col("sa.sz") + col("sb.sz") - col("inter"))
      .filter(col("inter") * thresholdDen >= col("uni") * thresholdNum)
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"))
  }

  /** Double-precision cosine similarity between two float-array columns.
    * Left-to-right double accumulation (native [[graft.plans.VectorDot]]) —
    * the exact same evaluation order any engine's sequential sum uses, so
    * results are bit-reproducible against the oracle's list_reduce.
    */
  /** Null (not NaN, not an ANSI divide-by-zero crash) when either vector has
    * zero norm: under Spark 4's default ANSI mode the raw division would
    * KILL the whole job on one poisoned vector, and with ANSI off the NaN
    * result ranks above every real cosine in >= filters. Null is the safe
    * tri-state: comparison filters drop it, TopKAgg skips null scores.
    * (Codegen CSEs the repeated norm subtrees — the guard costs no extra
    * dot products.)
    */
  def cosine(a: Column, b: Column): Column = {
    val den = sqrt(graft.functions.vector_dot(a, a)) *
      sqrt(graft.functions.vector_dot(b, b))
    when(den =!= 0.0, graft.functions.vector_dot(a, b) / den)
  }

  /** Embedding near-dup pairs over a float-vector column, blocked by
    * `blockCol` (at scale: an LSH/IVF bucket id; see graft.similarity).
    * Norms are computed once per vector before the pair join — the join then
    * evaluates a single dot per candidate pair.
    */
  def embeddingNearPairs(
      df: DataFrame,
      idCol: Column,
      vecCol: Column,
      blockCol: Column,
      minCosine: Double): DataFrame = {
    val dot = graft.functions.vector_dot _
    // zero-norm vectors are excluded up front: their cosine is undefined —
    // under ANSI the division would kill the job, with ANSI off the NaN
    // would rank above every real cosine and report the zero vector as a
    // near-dup of its entire block
    val a = df.select(blockCol.as("blk"), idCol.as("id_a"), vecCol.as("va"))
      .withColumn("sa", sqrt(dot(col("va"), col("va"))))
      .filter(col("sa") =!= 0.0)
    val b = df.select(blockCol.as("blk2"), idCol.as("id_b"), vecCol.as("vb"))
      .withColumn("sb", sqrt(dot(col("vb"), col("vb"))))
      .filter(col("sb") =!= 0.0)
    a.join(b, col("blk") === col("blk2") && col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("sa") * col("sb")))
      .filter(col("cos") >= minCosine)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos_r"))
  }

  /** Embedding near-dup pairs via sign-LSH buckets with multi-probe — the
    * 100 TB registered path (pq13). Candidates are (home bucket of a) ∩
    * (probe set of b); one-bit-flip probing is symmetric, so one join
    * direction covers both. Candidate id pairs are deduped BEFORE the cosine
    * join, so each pair costs exactly one dot product regardless of how many
    * probe buckets it collided in.
    */
  def embeddingNearPairsLsh(
      df: DataFrame,
      idCol: Column,
      vecCol: Column,
      planes: Int,
      probes: Int,
      minCosine: Double): DataFrame = {
    val ided = df.select(idCol.as("id"), vecCol.as("v"))
    val home = graft.similarity.Knn.lshBuckets(ided, "id", "v", planes)
    val probed = graft.similarity.Knn.lshProbesFromHome(home, planes, probes)
    val cands = home.select(col("bucket"), col("id").as("id_a"))
      .join(probed.select(col("bucket").as("bucket_b"), col("id").as("id_b")),
        col("bucket") === col("bucket_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val dot = graft.functions.vector_dot _
    val withNorm = ided.withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .filter(col("nrm") =!= 0.0) // zero-norm rule, as in embeddingNearPairs
    cands
      .join(withNorm.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("sa")), "id_a")
      .join(withNorm.select(col("id").as("id_b"), col("v").as("vb"), col("nrm").as("sb")), "id_b")
      .withColumn("cos", dot(col("va"), col("vb")) / (col("sa") * col("sb")))
      .filter(col("cos") >= minCosine)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos_r"))
  }

  /** SemDeDup-style semantic deduplication over an embedding column
    * ("SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", Abbas et al. 2023): assign every vector to its nearest
    * seed centroid by cosine (ties → smallest centroid id), then drop any
    * vector with a same-cluster neighbour of smaller id at cosine >=
    * `minCosine`. Returns the surviving `(vec_id, cluster)` rows.
    *
    * 100 TB shape: centroids are a fixed small set (k-means centroids in
    * production; here a deterministic id-sampled seed set so the oracle can
    * reproduce them) and BROADCAST — assignment is one scan with a map-side
    * argmax that partial-aggs to one row per vector before its single
    * shuffle. The quadratic near-dup step runs only INSIDE clusters, which
    * is the entire point of SemDeDup: cluster count grows with the corpus,
    * bounding per-reducer pair volume exactly like the LSH blocks of
    * [[embeddingNearPairs]].
    */
  def semanticClusterDedup(
      df: DataFrame,
      idCol: Column,
      vecCol: Column,
      seedModulus: Long,
      minCosine: Double): DataFrame = {
    val dot = graft.functions.vector_dot _
    // norms hoisted OUT of the n×k cross join (value-identical: sqrt of the
    // same dot, just evaluated once per vector instead of once per pair);
    // zero-norm vectors are cosine-unclassifiable and dropped up front —
    // under ANSI their division would kill the assignment scan
    val ided = df.select(idCol.as("id"), vecCol.as("v"))
      .withColumn("nv", sqrt(dot(col("v"), col("v"))))
      .filter(col("nv") =!= 0.0)
    val cents = ided.filter(col("id") % seedModulus === 0)
      .select(col("id").as("cid"), col("v").as("cv"), col("nv").as("ncv"))
    // broadcast-sized by construction, so the emptiness probe is one
    // limit(1) scan — without it an unlucky modulus yields an empty
    // cross join and a silently-empty survivor set
    require(!cents.isEmpty,
      s"seedModulus=$seedModulus selected no seed ids — the cluster cross " +
        "join would be empty and every vector silently dropped")
    val assigned = ided.crossJoin(broadcast(cents))
      .withColumn("ccos", dot(col("v"), col("cv")) / (col("nv") * col("ncv")))
      .groupBy(col("id"))
      .agg(max_by(
        struct(col("cid"), col("v")),
        struct(col("ccos"), (-col("cid")).as("nc"))).as("best"))
      .select(col("id"), col("best.cid").as("cluster"), col("best.v").as("v"))
    val dropped =
      embeddingNearPairs(assigned, col("id"), col("v"), col("cluster"), minCosine)
        .select(col("id_b").as("id")).distinct()
    assigned.join(dropped, Seq("id"), "left_anti")
      .select(col("id").as("vec_id"), col("cluster"))
  }

  /** Production SemDeDup, composed: clusters trained by
    * [[graft.similarity.Knn.kmeansAssignByCosine]] (instead of
    * [[semanticClusterDedup]]'s raw id-sampled seeds), then the same
    * keep-min-id in-cluster cosine pruning — the full Abbas-et-al pipeline.
    * Same scale shape: zero-corpus-shuffle assignment, quadratic step only
    * inside the (now data-adaptive) clusters.
    */
  def semanticClusterDedupKmeans(
      df: DataFrame,
      idCol: Column,
      vecCol: Column,
      seedModulus: Long,
      iters: Int,
      minCosine: Double): DataFrame = {
    // pin the trained assignment once (the repo's iterative-algorithm
    // pattern, as in connectedComponents): the pair join reads it on BOTH
    // sides and the anti join a third time — without the pin each would
    // re-run the whole k×d argmax scan
    val assigned = graft.similarity.Knn.kmeansAssignFull(
      df, idCol, vecCol, seedModulus, iters).localCheckpoint()
    val dropped =
      embeddingNearPairs(assigned, col("vec_id"), col("v"), col("cluster"), minCosine)
        .select(col("id_b").as("vec_id")).distinct()
    assigned.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cluster"))
  }

  /** Portable Bloom-filter membership pre-filter for incremental ingestion:
    * "was this key already ingested?" without joining the full history. The
    * filter is the RELATIONAL image of a Bloom filter — the distinct set of
    * bit positions (k md5-derived hashes per seen key, mod m) — so the exact
    * same structure, including its false-positive behaviour, is recomputable
    * by any SQL engine, which is what makes the operator oracle-checkable
    * (Spark's built-in BloomFilter aggregate is the non-portable
    * alternative). Returns one row per probe id: `maybe_member` is the Bloom
    * answer (every one of the k probe positions set; false positives
    * possible, never false negatives), `is_member` the exact ground truth —
    * rows with `maybe_member AND NOT is_member` ARE the false positives.
    *
    * 100 TB shape: the bit-position table is bounded by m rows REGARDLESS of
    * history size and broadcasts, so the probe corpus is one scan + k-way
    * position explode + a broadcast anti join — the probe side never
    * shuffles and the (unboundedly large) seen corpus is never joined. Size
    * m to the seen-key budget exactly as for a real bitset. `is_member` is
    * the verification column: computing it IS the expensive exact join the
    * Bloom pre-filter exists to avoid, so at scale callers drop it (or
    * compute it only over `maybe_member` survivors, the standard
    * bloom-then-verify plan).
    */
  def bloomSeenFilter(
      seen: DataFrame,
      probe: DataFrame,
      keyCol: Column,
      idCol: Column,
      m: Int,
      k: Int): DataFrame = {
    // m = 0 would make every `% m` null (non-ANSI), null bit positions never
    // join, and the anti-join would mark every probe missing — silent FALSE
    // negatives against the scaladoc's core guarantee
    require(m > 0 && k > 0, s"bloom parameters m=$m, k=$k must be positive")
    def positions(key: Column): Column =
      array((0 until k).map(j =>
        portable_hash(concat(lit(s"$j:"), key)) % m): _*)
    val bits = seen.select(explode(positions(keyCol)).as("bit")).distinct()
    // exact membership joins on the FULL md5 of the key (fixed-width, still
    // broadcastable) — a narrower hash would let a collision masquerade as
    // ground truth, defeating the verification column's whole purpose
    val seenKeys = seen.select(md5(keyCol.cast("string")).as("kh")).distinct()
    val missing = probe
      .select(idCol.as("id"), explode(positions(keyCol)).as("bit"))
      .join(broadcast(bits), Seq("bit"), "left_anti")
      .select(col("id")).distinct()
    probe.select(idCol.as("id"), md5(keyCol.cast("string")).as("kh"))
      .join(missing.withColumn("miss", lit(true)), Seq("id"), "left_outer")
      .join(broadcast(seenKeys.withColumn("hit", lit(true))), Seq("kh"), "left_outer")
      .select(col("id"),
        col("miss").isNull.as("maybe_member"),
        col("hit").isNotNull.as("is_member"))
  }

  /** Benchmark decontamination — flag corpus documents sharing any word
    * `n`-gram with an evaluation/benchmark set, the standard pre-training
    * hygiene step (exact-match n-gram overlap). Returns one row per
    * contaminated document with its distinct-overlapping-n-gram count.
    *
    * Scale shape: the benchmark side is small by definition (eval suites,
    * not corpora) — its distinct n-grams BROADCAST, so the corpus is one
    * scan + map-side hash probe + one partial-agg shuffle on doc id; the
    * 100 TB side never shuffles its text. Per-doc n-grams are distinct
    * ([[graft.functions.TextFunctions.word_ngrams]]), so `count(1)` is the
    * distinct overlap count.
    */
  /** Per-document duplicated-span statistics — the scalable core of
    * exact-substring dedup ("Deduplicating Training Data Makes Language
    * Models Better", Lee et al. 2022): for token-window size `n`, count the
    * window positions whose n-gram also occurs in at least one OTHER
    * document. Callers drop or trim documents whose duplicated fraction is
    * high (`n_dup_grams * D >= n_grams * N` in integer cross-multiplication).
    *
    * 100 TB shape: windows are md5-hashed immediately so nothing after the
    * first projection carries text — the three shuffles (per-(doc, gram)
    * count, gram document-frequency, per-doc rollup) all move fixed-width
    * rows, the first two are partial-agg (map-side combine), and the
    * gram⋈df join runs on two sides already hash-partitioned by gram. No
    * suffix array, no pairwise comparison: df>1 on an n-gram is exactly
    * "this span is duplicated somewhere", which is the per-document signal
    * the suffix-array pass of the paper feeds back to documents.
    */
  def duplicatedSpanStats(df: DataFrame, idCol: Column, textCol: Column, n: Int): DataFrame = {
    require(n > 0, s"window size n=$n must be positive")
    // windows hashed by ONE native expression per row (byte-range md5, no
    // window-string materialization — plans/TextHashExpressions.scala)
    val grams = df.select(idCol.as("doc_id"),
      explode(graft.functions.word_ngram_hashes(textCol, n)).as("g"))
    val perDocGram = grams.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    val gramDf = perDocGram.groupBy(col("g")).agg(count(lit(1)).as("df"))
    perDocGram.join(gramDf, "g")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_grams"),
        sum(when(col("df") > 1, col("c")).otherwise(0L)).as("n_dup_grams"))
  }

  /** Exact duplicated-SPAN removal (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — the substring-level
    * form that exact/doc-level dedup misses): every `n`-token window that
    * occurs more than once (counting within-doc repeats) elects one
    * canonical occurrence (the minimum `(doc_id, pos)`, packed into one
    * long so both engines elect identically) and every OTHER occurrence's
    * tokens are cut from their documents; overlapping duplicated windows
    * union into maximal removed spans via position-distinct coverage. A
    * later exact copy of a document loses all of it; a document quoting a
    * duplicated paragraph loses the paragraph. NOTE the guarantee is on the
    * canonical occurrence's ELECTION, not its byte survival: when a
    * duplicated window overlaps its own canonical occurrence (self-repeating
    * text — "x x x" with n=2, repeated boilerplate inside the first doc),
    * the non-canonical occurrences' token spans can intersect the canonical
    * window and cut into it, exactly as in Lee et al.'s span semantics where
    * any position covered by some removable span is removed.
    *
    * Output: `(doc_id, n_tokens, n_removed, text_clean)` — every input doc
    * present, including fully-scrubbed ones (empty `text_clean`).
    *
    * 100 TB shape: windows are hashed by the native one-pass expression
    * (no window strings materialize); the election is one partial-agg
    * shuffle on the 60-bit gram hash; only AFFECTED `(doc_id, pos)` pairs
    * shuffle (collect_set per doc), and reassembly is the row-local native
    * merge-scan `remove_token_positions` — the text meets its sorted
    * removal list in one doc-keyed join and never moves token by token.
    */
  def removeDuplicatedSpans(
      df: DataFrame, idCol: Column, textCol: Column, n: Int): DataFrame = {
    require(n > 0, s"window size n=$n must be positive")
    // pos < 2^20 tokens per doc; doc_id·2^20 + pos. packed_id raises on any
    // row outside the bound (a 2^20-token doc or doc_id ≥ 2^43 would
    // otherwise silently collide and corrupt the keeper election).
    val PosPack = 1048576L
    def packed(doc: Column, pos: Column) = graft.functions.packed_id(doc, pos, PosPack)
    val toks = df.select(idCol.as("doc_id"), split(textCol, " ").as("t"))
    val grams = toks.select(col("doc_id"),
        posexplode(graft.functions.word_ngram_hashes(concat_ws(" ", col("t")), n))
          .as(Seq("pos", "g")))
    val canon = grams
      .groupBy(col("g"))
      .agg(min(packed(col("doc_id"), col("pos"))).as("keeper"),
        count(lit(1)).as("df"))
      .filter(col("df") > 1)
    // per-doc sorted removal positions: collect_set dedupes overlapping
    // windows, so ONLY the affected (doc, pos) pairs shuffle — the
    // reassembly itself is the row-local native merge-scan
    // (remove_token_positions); the text meets its removal list in one
    // doc-keyed join (broadcast when the duplicated set is small,
    // co-partitioned at scale) instead of the old per-token explode →
    // join → sorted-collect_list chain, which shuffled every token of
    // every document twice as (doc, pos, tok) structs.
    val rmPerDoc = grams.join(canon, "g")
      .filter(packed(col("doc_id"), col("pos")) =!= col("keeper"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + n - 1)).as("tp"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("tp"))).as("__rm"))
    toks.join(rmPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        graft.functions.remove_token_positions(col("t"),
          coalesce(col("__rm"), array().cast("array<int>"))).as("__r"))
      .select(col("doc_id"),
        col("__r.n_tokens").as("n_tokens"),
        col("__r.n_removed").as("n_removed"),
        col("__r.text_clean").as("text_clean"))
  }

  /** Connected components over an undirected candidate-pair edge list —
    * the clustering step that turns LSH near-dup PAIRS into dedup GROUPS
    * (each doc labeled with the minimum id reachable from it), so a keeper
    * policy ("retain min id per cluster") sees transitive duplicates
    * A~B~C as ONE group even when (A,C) itself was never a candidate.
    *
    * Algorithm: min-label propagation (the Pregel/GraphX HashMin
    * formulation) PLUS pointer jumping. Each round every node takes the
    * min of its own label and its neighbors' labels, then follows the new
    * label one hop (`lbl := lbl(lbl)`) — the path-halving step of
    * parallel union-find. Plain HashMin needs component-diameter rounds,
    * which real near-dup data defeats: sf0.1 already produces a chain
    * component >25 deep (doc i ~ doc i+1 ~ ...). With the jump the label
    * forest's depth halves every round, so rounds = O(log diameter) — 25
    * rounds cover depth 2^25. Each round is two shuffle-joins + one
    * partial-agg min over the LABEL table only; `localCheckpoint`
    * truncates lineage each round so plan depth stays O(1); the per-round
    * convergence test is a driver-side SCALAR (the label-sum fixpoint
    * witness), not collected data.
    *
    * 100 TB shape: the edge list is |candidate pairs| ≪ |docs| by
    * construction (pairs only exist inside LSH buckets), and labels carry
    * two longs per node — orders of magnitude smaller than the corpus the
    * pairs came from. The alternating large-star/small-star algorithm
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) has the same O(log) round bound with better constants on
    * star-heavy graphs; HashMin+jump is simpler and round-count-equivalent
    * for dedup-shaped graphs.
    *
    * Small-graph fast path: up to `collectThreshold` pairs the edge list is
    * collected (two longs per pair — 2M pairs ≈ 32 MB) and solved by driver
    * union-find, the same size-based judgment AQE applies when it
    * broadcasts a small join side ([[graft.pipeline.Guarded.collectOrPin]]
    * pins the pairs first, so either path computes them once). This is NOT "the operator isn't distributed": the
    * heavy work — shingling, minhashing, banding, the bucket join that
    * produced the pairs — already ran distributed, and the edge list is the
    * provably-small residue (pairs exist only inside LSH buckets). A 100 TB
    * corpus with billions of candidate pairs exceeds the threshold and takes
    * the distributed jump loop, which the property tests exercise directly.
    *
    * Returns (id, cluster_id) for every node that appears in `pairs`;
    * singleton docs (no candidate pair) are their own cluster by definition
    * and are left to the caller (they need no row to be kept).
    */
  def connectedComponents(
      pairs: DataFrame,
      maxIter: Int = 25,
      collectThreshold: Long = 2000000L): DataFrame =
    connectedComponentsRounds(pairs, maxIter, collectThreshold)._1

  /** [[connectedComponents]] plus the number of distributed jump rounds it
    * took to converge (0 when the sub-threshold local path ran) — the
    * observable CcScaleProbe charts against graph size and diameter.
    */
  private[graft] def connectedComponentsRounds(
      pairs: DataFrame,
      maxIter: Int = 25,
      collectThreshold: Long = 2000000L): (DataFrame, Int) = {
    // Both halves of the algorithm assume integral node ids: the local path
    // decodes (Long, Long), and the distributed loop's convergence witness
    // is sum(cast(lbl AS DECIMAL)) — for a non-numeric id type that cast is
    // null per row, the null sum matches the empty-graph branch on round 1,
    // and the loop would "converge" with wrong clusters SILENTLY. Refuse
    // loudly instead; callers with string ids must map them to longs first.
    Seq("id_a", "id_b").foreach { c =>
      val dt = pairs.schema(pairs.schema.fieldIndex(c)).dataType
      require(Seq("byte", "short", "int", "integer", "long", "bigint")
        .contains(dt.simpleString),
        s"connectedComponents: $c has non-integral type ${dt.simpleString} — " +
          "map node ids to longs before clustering")
    }
    val spark = pairs.sparkSession
    import spark.implicits._
    val pinned = graft.pipeline.Guarded.collectOrPin(
        pairs.select(col("id_a"), col("id_b")).as[(Long, Long)], collectThreshold) match {
      case Left(es) => return (componentMinima(es).toSeq.toDF("id", "cluster_id"), 0)
      case Right(p) => p
    }
    val sym = pinned
      .select(col("id_a").as("u"), col("id_b").as("v"))
      .union(pinned.select(col("id_b").as("u"), col("id_a").as("v")))
    val nodes = sym.select(col("u").as("id")).distinct()
    // Self-loop edges deliver each node's OWN label through the same join,
    // so a round is ONE join + ONE partial-agg min — no separate left join
    // to merge the previous label back in. The edge list is partitioned by
    // the join key once and pinned (localCheckpoint preserves the physical
    // partitioning), so each round only shuffles the far smaller label
    // table to meet it.
    val edges = sym
      .union(nodes.select(col("id").as("u"), col("id").as("v")))
      .repartition(col("v"))
      .localCheckpoint()
    var labels = nodes.withColumn("lbl", col("id")).localCheckpoint()
    var iter = 0
    var converged = false
    // labels only ever decrease, so the label SUM is a strictly decreasing
    // fixpoint witness: equal consecutive sums ⇔ no label moved ⇔ done.
    // One scalar agg per round instead of an old-vs-new compare join.
    var prevSum: java.math.BigDecimal = null
    while (!converged && iter < maxIter) {
      // Pin the propagate result BEFORE the pointer-jump self-join: the jump
      // references `propagated` twice, and without the pin Spark plans the
      // whole edges⋈labels + min subtree on both sides (only the shuffles
      // below it come back as ReusedExchange) — real 2× propagate cost per
      // round. The pin makes both jump sides scan one materialized
      // label-table-sized frame, and its preserved hashpartitioning(id)
      // means the jump's build side needs no Exchange at all.
      val propagated = ccPropagate(edges, labels).localCheckpoint()
      val next = ccJump(propagated).localCheckpoint()
      val s = next.agg(sum(col("lbl").cast(DecimalType(38, 0)))).head.getDecimal(0)
      converged =
        if (s == null || prevSum == null) s == null && prevSum == null // empty graph only
        else s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      iter += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds — component diameter exceeds maxIter")
    (labels.select(col("id"), col("lbl").as("cluster_id")), iter)
  }

  /** DELETION PROPAGATION through dedup clusters — the takedown path every
    * production corpus eventually needs: when documents are removed (legal
    * takedown, source retraction), any cluster whose KEPT canonical was
    * among them must re-elect a survivor, and a removed BRIDGE document
    * can split one cluster into several, each needing its own keeper. The
    * operator returns the REPROCESS DELTA: one row per post-deletion
    * sub-cluster whose keeper is NEW — `(new_keep_id, old_cluster_id,
    * n_members)` — i.e. exactly the documents that were previously dropped
    * as duplicates and must now (re)enter the corpus as canonicals.
    * Clusters whose old keeper survived (even if members were removed)
    * produce no delta row; fully-removed sub-clusters have no survivor and
    * likewise vanish.
    *
    * Semantics are RECOMPUTE-FROM-SCRATCH equivalent: edges never cross
    * cluster boundaries, so re-running [[connectedComponents]] on the
    * survivor-restricted edge list decomposes per original cluster — the
    * operator therefore re-clusters ONLY the affected clusters (those with
    * ≥1 removed member), a cluster-sized sub-graph, never the corpus
    * (pq97 pins the equivalence against a full from-scratch SQL oracle).
    *
    * 100 TB shape: the removed-id set (takedown lists — thousands) rides
    * BROADCAST everywhere; the affected-cluster ID set is at most that
    * size and broadcasts too. Affected-cluster MEMBERSHIP is bounded by
    * the largest affected cluster — usually tiny, occasionally giant —
    * so its joins are left to the optimizer (broadcast when small,
    * shuffle when not; never force-collected). The delta itself computes
    * driver-side in ONE guarded collect when the sub-graph's edges and
    * survivors together number at most `collectThreshold` rows (the
    * takedown-wave fallback re-runs the distributed sub-graph CC). The
    * corpus is never touched — everything here is (pairs, clusters)
    * metadata, and the caller applies the delta with one broadcast join.
    *
    * Inputs: `pairs` (id_a, id_b — the candidate-pair edge list the
    * clusters came from), `clusters` (id, cluster_id — [[
    * connectedComponents]] output; labels are cluster minima), `removedIds`
    * (1-column). Documents outside any cluster need no re-election (their
    * removal is just a row delete) and singletons-by-deletion inside
    * affected clusters are handled (a survivor whose every neighbor was
    * removed becomes its own keeper).
    */
  def reElectAfterDeletion(
      pairs: DataFrame,
      clusters: DataFrame,
      removedIds: DataFrame,
      collectThreshold: Long = 2000000L): DataFrame = {
    val spark = pairs.sparkSession
    val removed = broadcast(removedIds.toDF("__rm").dropDuplicates("__rm"))
    // clusters with >= 1 removed member: the only ones whose election can move
    val affected = broadcast(
      clusters.join(removed, col("id") === col("__rm"), "left_semi")
        .select(col("cluster_id").as("__ac")).distinct())
    // affected-cluster MEMBERSHIP: bounded by the LARGEST affected
    // cluster, which a takedown inside a giant near-dup cluster can make
    // arbitrarily big — so it is NOT force-broadcast (an explicit
    // broadcast() would have to collect it on the driver regardless of
    // size, reintroducing the OOM class the distributed fallback exists
    // for). The optimizer broadcasts it when its stats are small (the
    // normal case — AQE upgrades the join at runtime) and shuffles it
    // when they are not; only `affected` (distinct cluster ids ≤ the
    // takedown list) is unconditionally broadcast-safe.
    val members = clusters
      .join(affected, col("cluster_id") === col("__ac"), "left_semi")
    val survivors = members
      .join(removed, col("id") === col("__rm"), "left_anti")
      .select(col("id"), col("cluster_id").as("old_cluster_id"))
    // survivor-restricted edges of affected clusters: id_a's membership
    // decides the pair's cluster (edges never cross clusters), so a semi
    // join on id_a alone restricts exactly (no full-cluster-table join)
    val subPairs = pairs
      .join(members.select(col("id").as("id_a")), Seq("id_a"), "left_semi")
      .join(removed, col("id_a") === col("__rm"), "left_anti")
      .join(removed, col("id_b") === col("__rm"), "left_anti")
      .select(col("id_a"), col("id_b"))
    // Everything here is takedown-bounded METADATA, so the delta computes
    // on the driver when the survivor-restricted edges (t = 0) and the
    // survivors (t = 1) together fit the guard; one frame sizes and
    // collects both sides in one job. Past the guard the distributed
    // shape runs over the pinned frame instead of OOMing the driver.
    import spark.implicits._
    val tagged = subPairs
      .select(col("id_a").as("x"), col("id_b").as("y"), lit(0).as("t"))
      .unionByName(survivors
        .select(col("id").as("x"), col("old_cluster_id").as("y"), lit(1).as("t")))
      .as[(Long, Long, Int)]
    graft.pipeline.Guarded.collectOrPin(tagged, collectThreshold) match {
      case Left(rows) =>
        val label = componentMinima(rows.collect { case (a, b, 0) => (a, b) })
        val counts = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
        rows.foreach {
          case (id, old, 1) =>
            // isolated survivor (every neighbor removed): its own singleton keeper
            val nc = label.getOrElse(id, id)
            if (nc != old) counts((nc, old)) = counts.getOrElse((nc, old), 0L) + 1L
          case _ =>
        }
        counts.iterator.map { case ((nc, old), n) => (nc, old, n) }.toSeq
          .toDF("new_keep_id", "old_cluster_id", "n_members")
      case Right(pinned) =>
        def side(t: Int, x: String, y: String) =
          pinned.filter(col("t") === t).select(col("x").as(x), col("y").as(y))
        // distributed fallback: sub-graph CC + one aggregation
        val subCc = connectedComponents(
            side(0, "id_a", "id_b"), collectThreshold = collectThreshold)
          .select(col("id"), col("cluster_id").as("__nc"))
        side(1, "id", "old_cluster_id")
          .join(subCc, Seq("id"), "left")
          // isolated survivor (every neighbor removed): its own singleton keeper
          .withColumn("__new_cluster", coalesce(col("__nc"), col("id")))
          .groupBy(col("__new_cluster").as("new_keep_id"), col("old_cluster_id"))
          .agg(count(lit(1)).as("n_members"))
          // keeper unchanged (old minimum survived) -> nothing to reprocess
          .filter(col("new_keep_id") =!= col("old_cluster_id"))
    }
  }

  /** HashMin propagate half of one [[connectedComponents]] round, exposed
    * un-checkpointed so the per-round plan is auditable: the loop's
    * `localCheckpoint` truncates lineage, which makes the registered pq23
    * plan report `shuffles=0` — a blind spot unless the round's two phase
    * plans are audited directly (Explain's `pq23_cc_*` fact lines; pinned
    * in PlanAuditSpec).
    *
    * Steady-state budget over the LABEL table only (edges are
    * pre-partitioned by `v` once, outside the loop): 1 labels→v shuffle +
    * 1 partial-agg min shuffle. The corpus never appears here — labels are
    * two longs per node.
    */
  private[graft] def ccPropagate(edges: DataFrame, labels: DataFrame): DataFrame =
    edges
      .join(labels.withColumnRenamed("id", "v"), "v")
      .groupBy(col("u").as("id")).agg(min(col("lbl")).as("lbl"))

  /** Pointer-jump half of one round, over the PINNED propagate result
    * (`localCheckpoint` in the loop — the pin is what makes the propagate
    * subtree execute once even though the jump references it twice; it
    * also preserves the min-agg's hashpartitioning(id), so the `j_id` side
    * plans with NO Exchange and only the `lbl`-keyed probe side shuffles).
    * Steady-state budget: 1 label-table shuffle.
    */
  private[graft] def ccJump(propagated: DataFrame): DataFrame =
    // pointer jump: every label value is itself a node id (labels start
    // as ids and min only selects existing label values), so the inner
    // self-join is total; following one hop halves the label forest's
    // remaining depth each round
    propagated
      .join(propagated.select(col("id").as("j_id"), col("lbl").as("j_lbl")),
        col("lbl") === col("j_id"))
      .select(col("id"), col("j_lbl").as("lbl"))

  /** Driver union-find with path halving over an ALREADY-collected
    * sub-threshold edge list (never corpus data): maps every node of
    * `edges` to its component minimum. Shared by the driver paths of
    * [[connectedComponents]] and [[reElectAfterDeletion]].
    */
  private def componentMinima(edges: Array[(Long, Long)]): scala.collection.mutable.LongMap[Long] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) {
        val gp = parent(parent(x))
        parent(x) = gp // path halving
        x = gp
      }
      x
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toArray.foreach(k => parent(k) = find(k))
    parent
  }

  def contaminationFlags(
      corpus: DataFrame,
      idCol: Column,
      textCol: Column,
      benchmark: DataFrame,
      benchTextCol: Column,
      n: Int): DataFrame = {
    // both sides hash n-gram windows natively (byte-range md5 → 60-bit
    // long) so the broadcast set and the probe carry 8-byte keys instead
    // of window strings; per-doc distinct applies on the hash array
    val benchNgrams = benchmark
      .select(explode(array_distinct(
        graft.functions.word_ngram_hashes(benchTextCol, n))).as("ng"))
      .distinct()
    corpus
      .select(idCol.as("doc_id"),
        explode(array_distinct(
          graft.functions.word_ngram_hashes(textCol, n))).as("ng"))
      .join(broadcast(benchNgrams), "ng")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_contaminated"))
  }

  /** Winnowing-based decontamination: [[contaminationFlags]] probes EVERY
    * n-gram, which at benchmark sizes of millions of windows strains the
    * broadcast; this form probes only the winnowing fingerprints
    * (~2/(w+1) of the hashes — the MOSS selection), keeping the guarantee
    * that any shared run of ≥ `w + n - 1` tokens still collides on at
    * least one fingerprint. The benchmark's fingerprint set shrinks by the
    * same factor, so the broadcast stays feasible for benchmark suites the
    * full n-gram set would not. Returns per-doc shared-fingerprint counts;
    * the caller thresholds.
    */
  def winnowContamination(
      corpus: DataFrame,
      idCol: Column,
      textCol: Column,
      benchmark: DataFrame,
      benchTextCol: Column,
      n: Int,
      w: Int): DataFrame = {
    val fps = (t: Column) =>
      graft.functions.TextFunctions.winnow_fingerprints(t, n, w)
    val benchFps = benchmark
      .select(explode(fps(benchTextCol)).as("fp"))
      .distinct()
    corpus
      .select(idCol.as("doc_id"), explode(fps(textCol)).as("fp"))
      .join(broadcast(benchFps), "fp")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_fp"))
  }

  /** Cross-document exact segment dedup — the REMOVAL form of the Lee et
    * al. 2022 exact-substring signal (pq18 counts duplicated windows; this
    * operator rewrites the corpus). Each document is cut into consecutive
    * `segTokens`-token segments; only the corpus-wide FIRST occurrence of
    * each distinct segment survives (first = minimal (doc_id, idx), so the
    * policy is deterministic and order-independent); survivors reassemble in
    * segment order. Reference behavior: the dedup stage a crawl pipeline
    * runs before training (deduplicating repeated boilerplate/quotations
    * across pages, not just whole-page copies).
    *
    * 100 TB shape: segments hash at the scan (the 60-bit portable hash
    * stands in for segment text on the wire); first-occurrence election is
    * one partial-agg shuffle on the hash; the election joins back
    * co-partitioned on that same hash (the keeper table is one row per
    * DISTINCT segment — far too big to broadcast, exactly the co-partitioned
    * case); reassembly is one shuffle on doc_id carrying each segment once.
    * No window over an unbounded partition anywhere.
    */
  def dedupSegments(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      segTokens: Int): DataFrame = {
    val segs = graft.functions.TextFunctions
      .chunkByTokens(df.select(idCol.as("__id"), textCol.as("__text")),
        col("__id"), col("__text"), chunkSize = segTokens, overlap = 0)
      .select(col("doc_id"), col("chunk_idx").as("idx"),
        col("chunk_text").as("seg"),
        // full 128-bit md5, not the 60-bit portable hash: the election
        // DELETES text, and at ~1e10 segments the birthday bound over 2^60
        // predicts real collisions (silently cutting non-duplicate
        // segments) where 2^128 predicts none — same rule as
        // exactByContent and bloomSeenFilter's membership column
        md5(col("chunk_text")).as("h"))
    val first = segs.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("f"))
    segs.join(first, "h")
      .withColumn("keep",
        col("doc_id") === col("f.doc_id") && col("idx") === col("f.idx"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("idx"), col("keep"), col("seg"))))
        .as("xs"))
      .select(
        col("doc_id"),
        array_join(transform(
          filter(col("xs"), x => x.getField("keep")), x => x.getField("seg")),
          " ").as("clean_text"),
        size(col("xs")).as("n_segments"),
        size(filter(col("xs"), x => !x.getField("keep"))).as("n_dropped"))
  }
}
