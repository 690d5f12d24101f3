package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.Dedup
import graft.functions.TextFunctions
import graft.multimodal.Multimodal
import graft.similarity.Knn

/** Training-data pipeline operators over `documents` / `embeddings`:
  * dedup family, similarity search, text analysis, multimodal plumbing.
  * Everything hashes with the engine-portable md5-prefix family
  * ([[TextFunctions.portable_hash]]) so the DuckDB oracle can recompute the
  * exact values — including minhash signatures and simhashes.
  */
object PipelineQueries {

  /** Shared oracle fragment: portable hash of an expression, DuckDB side. */
  private def dh(e: String): String = s"CAST(('0x'||substr(md5($e),1,15)) AS BIGINT)"

  /** Shared oracle fragment: [[TextFunctions.quality_score]] over a
    * `toks`/`text` pair (pq11/pq55/pq57 — ONE source so the replicas cannot
    * drift from each other).
    */
  private[queries] def oQualityScore: String =
    """round(0.4 * (CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','it','that','for'))) AS DOUBLE) / len(toks)) +
                  0.3 * least(len(toks) / 100.0, 1.0) +
                  0.3 * (1.0 - (length(text) - length(translate(text, '.,!?;:', ''))) / greatest(length(text), 1)), 6)"""

  /** Shared oracle fragments for the embedding family: the bit-reproducible
    * left-fold dot / cosine, and the k-means round CTEs (assignment +
    * fixed-point mean update) that pq39/pq40 unroll.
    */
  private[queries] def oDot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(generate_series(1, len($a)), i -> CAST($a[CAST(i AS INT)] AS DOUBLE) * CAST($b[CAST(i AS INT)] AS DOUBLE))), (acc, x) -> acc + x)"

  private[queries] def oCos(a: String, b: String): String =
    s"${oDot(a, b)} / (sqrt(${oDot(a, a)}) * sqrt(${oDot(b, b)}))"

  /** Shared oracle fragment: the 4-bit sign-LSH home bucket of `vecExpr`
    * under global plane ids `planeBase + p`, p ∈ [0, 4) — byte-for-byte the
    * [[graft.plans.SignLsh]] semantics (md5-prefix hyperplane components
    * `(h(plane:dim) % 1e6) / 2e6`, left-fold double dot, `>= 0` sign bit
    * per plane). `planeBase` may reference outer columns (pq09 passes
    * `t*4` for its 8 independent tables).
    */
  private def oLshBucket(vecExpr: String, planeBase: String): String =
    s"""list_sum(list_transform(generate_series(0, 3), p ->
          CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(generate_series(1, len($vecExpr)), i ->
              CAST($vecExpr[CAST(i AS INT)] AS DOUBLE) *
              (CAST(CAST(('0x'||substr(md5(CAST($planeBase + p AS VARCHAR)||':'||CAST(i-1 AS VARCHAR)),1,15)) AS BIGINT) % 1000000 AS DOUBLE) / 2000000.0))),
            (acc,x) -> acc + x) >= 0
          THEN CAST(1 AS BIGINT) << CAST(p AS INT) ELSE CAST(0 AS BIGINT) END))"""

  /** Shared oracle fragment: the IVF coarse tier over `p(vec_id, v)` —
    * CTEs `cents` (the `nlist` deterministic ivf-salt centroids), `asg`
    * (corpus assignment, cosine argmax with ties to the smallest cid —
    * [[graft.similarity.Knn.ivfAssign]]'s contract) and `qp` (each query's
    * `nprobe` nearest lists, query set = rows matching `queryPred`).
    * Splice after the `p` definition.
    */
  /** Shared oracle (pq53, dq30 — byte-identical so both hash-check the
    * same BM25 semantics): the fixture queries' BM25 top-10 over
    * `documents`, replaying the fixed-point component freeze exactly.
    */
  private[queries] val oBm25TopKSql: String = """
        WITH q AS (
          SELECT CAST(qid AS BIGINT) AS qid, term FROM (VALUES
            (1, 'hash'), (1, 'join'),
            (2, 'window'), (2, 'agg'), (2, 'scan'),
            (3, 'customer'), (3, 'order')) AS v(qid, term)
        ), base AS (
          SELECT doc_id, string_split(text, ' ') AS t,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
          FROM documents
        ), stats AS (
          SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
          FROM base
        ), terms AS (
          SELECT DISTINCT term FROM q
        ), dfs AS (
          SELECT tm.term,
                 CAST(sum(CASE WHEN list_contains(b.t, tm.term) THEN 1 ELSE 0 END) AS BIGINT) AS df
          FROM base b CROSS JOIN terms tm
          GROUP BY 1
        ), comp AS (
          SELECT b.doc_id, q.qid,
                 CASE WHEN len(list_filter(b.t, x -> x = q.term)) > 0
                      THEN CAST(floor(1000000.0
                             * ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                             * (CAST(len(list_filter(b.t, x -> x = q.term)) AS DOUBLE) * (1.2 + 1.0)
                                / (CAST(len(list_filter(b.t, x -> x = q.term)) AS DOUBLE)
                                   + 1.2 * (1.0 - 0.75 + 0.75 * CAST(b.dl AS DOUBLE) / s.avgdl))))
                           AS BIGINT)
                      ELSE 0 END AS c,
                 CASE WHEN len(list_filter(b.t, x -> x = q.term)) > 0 THEN 1 ELSE 0 END AS m
          FROM base b CROSS JOIN q
          JOIN dfs d USING (term) CROSS JOIN stats s
        ), scores AS (
          SELECT doc_id, qid, CAST(sum(c) AS BIGINT) AS score_fp
          FROM comp GROUP BY 1, 2 HAVING sum(m) > 0
        ), ranked AS (
          SELECT qid, doc_id, score_fp,
                 row_number() OVER (PARTITION BY qid ORDER BY score_fp DESC, doc_id ASC) AS rk
          FROM scores
        )
        SELECT qid, CAST(rk AS INT) AS rank, doc_id, score_fp,
               CAST(score_fp AS DOUBLE) / 1000000.0 AS score
        FROM ranked WHERE rk <= 10
      """

  private[queries] def oIvfCoarse(
      nlist: Int, nprobe: Int, queryPred: String,
      centPred: String = "TRUE"): String = s"""
        cents AS (
          SELECT vec_id AS cid, v AS cv FROM p WHERE $centPred
          ORDER BY ${dh("'ivf:'||CAST(vec_id AS VARCHAR)")} ASC, vec_id ASC
          LIMIT $nlist),
        asg AS (
          SELECT vec_id AS nbr_id, cid FROM (
            SELECT p.vec_id, c.cid,
                   row_number() OVER (PARTITION BY p.vec_id
                     ORDER BY ${oCos("p.v", "c.cv")} DESC, c.cid ASC) AS rn
            FROM p CROSS JOIN cents c) WHERE rn = 1),
        qp AS (
          SELECT query_id, cid FROM (
            SELECT p.vec_id AS query_id, c.cid,
                   row_number() OVER (PARTITION BY p.vec_id
                     ORDER BY ${oCos("p.v", "c.cv")} DESC, c.cid ASC) AS rn
            FROM p CROSS JOIN cents c WHERE $queryPred) WHERE rn <= $nprobe)"""

  /** `iters` unrolled k-means rounds over `p(vec_id, v)` seeded by `c0`,
    * ending in assignment CTE `af(vec_id, v, cluster)` — splice after the
    * `p`/`c0` definitions.
    */
  private def oKmeansRounds(iters: Int): String = {
    def assign(aName: String, cName: String) = s"""
        $aName AS (
          SELECT vec_id, v, cluster FROM (
            SELECT p.vec_id, p.v, c.cid AS cluster,
                   row_number() OVER (PARTITION BY p.vec_id
                     ORDER BY ${oCos("p.v", "c.cv")} DESC, c.cid ASC) AS rn
            FROM p CROSS JOIN $cName c) WHERE rn = 1)"""
    def update(aName: String, mName: String, cName: String) = s"""
        ${mName}x AS (
          SELECT cluster, unnest(generate_series(0, CAST(len(v) AS INT) - 1)) AS dim,
                 unnest(v) AS x
          FROM $aName),
        $mName AS (
          SELECT cluster, dim,
                 CAST(sum(CAST(floor(x * 1000000.0) AS BIGINT)) AS DOUBLE) / count(*) / 1000000.0 AS c
          FROM ${mName}x GROUP BY 1, 2),
        $cName AS (SELECT cluster AS cid, list(c ORDER BY dim) AS cv FROM $mName GROUP BY 1)"""
    val rounds = (1 to iters).map(i =>
      assign(s"a$i", s"c${i - 1}") + "," + update(s"a$i", s"m$i", s"c$i")).mkString(",")
    rounds + "," + assign("af", s"c$iters")
  }

  /** `k` unrolled MMR greedy rounds (pq50) over a candidate pool
    * `cand(query_id, nbr_id, rel)` with pairwise candidate dots
    * `cdot(ia, ib, d)` — CTEs `s1..s$k`, one per selection round, splice
    * after the `cand`/`cdot` definitions. Round 1 is pure relevance; round
    * i scores each unselected candidate `wRel·rel − wDiv·max(sim to the
    * i−1 already selected)`, ties to the smaller id — exactly
    * [[graft.similarity.Knn.mmrTopK]]'s driver loop, made hash-checkable
    * because every quantity is an integer.
    */
  private def oMmrRounds(k: Int, wRel: Long, wDiv: Long): String = {
    def selUnion(i: Int) =
      (1 until i).map(j => s"SELECT * FROM s$j").mkString(" UNION ALL ")
    val first = s"""
        s1 AS (
          SELECT query_id, 1 AS rank, nbr_id, rel, $wRel * rel AS mmr FROM (
            SELECT query_id, nbr_id, rel,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY $wRel * rel DESC, nbr_id ASC) AS rn
            FROM cand) WHERE rn = 1)"""
    val rest = (2 to k).map { i => s"""
        p$i AS (
          SELECT c.query_id, c.nbr_id, c.rel, max(cd.d) AS msim
          FROM cand c
          JOIN (${selUnion(i)}) sel ON sel.query_id = c.query_id
          JOIN cdot cd ON cd.ia = c.nbr_id AND cd.ib = sel.nbr_id
          WHERE NOT EXISTS (SELECT 1 FROM (${selUnion(i)}) z
                            WHERE z.query_id = c.query_id AND z.nbr_id = c.nbr_id)
          GROUP BY 1, 2, 3),
        s$i AS (
          SELECT query_id, $i AS rank, nbr_id, rel,
                 $wRel * rel - $wDiv * msim AS mmr FROM (
            SELECT query_id, nbr_id, rel, msim,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY ($wRel * rel - $wDiv * msim) DESC, nbr_id ASC) AS rn
            FROM p$i) WHERE rn = 1)"""
    }.mkString(",")
    first + "," + rest
  }

  /** Spark side of the pq03 LSH pipeline (k=16, 4 bands × 4 rows, 5-char
    * shingles), shared by the pair/cluster/verify queries so they are all
    * guaranteed to agree on one candidate-pair definition.
    */
  private def lshSigsAndPairs(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    // single-file testdata = one row group = one scan task; fan the
    // expensive shingle/gram map phase out over all cores (identity on
    // multi-split inputs — Tables.spreadForRowWork)
    val d = Tables.spreadForRowWork(Tables.documents(s, dir))
    val sigs = Dedup.minHashSignaturesWide(d, col("doc_id"), col("text"), k = 16, shingleSize = 5)
    (d, sigs, Dedup.lshCandidatePairs(Dedup.lshBandSignaturesWide(sigs, k = 16, bands = 4)))
  }

  /** DuckDB side of the same pipeline, as CTE definitions ending in
    * `sigs(doc_id, hi, mh)` and `pairs(id_a, id_b)` — splice after a
    * `WITH [RECURSIVE]` keyword. Identical text to the pq03 oracle body.
    */
  private val lshPairsCtes: String = s"""
        pos AS (
          SELECT doc_id, text, unnest(generate_series(1, greatest(length(text)-4, 1))) AS pos FROM documents
        ), sh AS (
          SELECT doc_id, substr(text, CAST(pos AS INT), 5) AS sh FROM pos
        ), hs AS (
          SELECT doc_id,
                 CAST(('0x'||substr(md5(sh),1,15)) AS BIGINT) % 2147483647 AS h1,
                 CAST(('0x'||substr(md5(sh),16,15)) AS BIGINT) % 2147483647 AS h2 FROM sh
        ), hx AS (
          SELECT doc_id, h1, h2, unnest(generate_series(0, 15)) AS hi FROM hs
        ), sigs AS (
          SELECT doc_id, CAST(hi AS INT) AS hi,
                 min((h1 + hi * h2) % 2147483647) AS mh
          FROM hx GROUP BY 1, 2
        ), bsig AS (
          SELECT doc_id, hi // 4 AS band,
                 md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY hi)) AS band_sig
          FROM sigs GROUP BY doc_id, hi // 4
        ), pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bsig a JOIN bsig b
            ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
        )"""

  /** CTEs extending [[lshPairsCtes]] to connected components over the
    * candidate pairs: `clusters(id, cluster_id)` by transitive closure
    * (fine at oracle scale; the Spark side label-propagates instead).
    */
  private val ccCtes: String = s"""$lshPairsCtes, edges AS (
          SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ), reach AS (
          SELECT u, v FROM edges
          UNION
          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
        ), clusters AS (
          SELECT u AS id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
        )"""

  val all: Seq[Q] = Seq(
    // ---- exact dedup by content hash: one map-side-combinable shuffle.
    Q(
      "pq01_exact_dedup",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        Dedup.exactByContent(d, col("doc_id"), col("text"))
      },
      Some("""
        SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        FROM documents GROUP BY md5(text)
      """)),

    // ---- minhash signatures (k=8, 5-char shingles), long form.
    Q(
      "pq02_minhash_sigs",
      (s, dir) => {
        // single-file testdata = one row group = one scan task; fan the
        // expensive shingle/gram map phase out over all cores (identity on
        // multi-split inputs — Tables.spreadForRowWork)
        val d = Tables.spreadForRowWork(Tables.documents(s, dir))
        Dedup.minHashSignatures(d, col("doc_id"), col("text"), k = 8, shingleSize = 5)
      },
      Some(s"""
        WITH pos AS (
          SELECT doc_id, text, unnest(generate_series(1, greatest(length(text)-4, 1))) AS pos FROM documents
        ), sh AS (
          SELECT doc_id, substr(text, CAST(pos AS INT), 5) AS sh FROM pos
        ), hs AS (
          SELECT doc_id,
                 CAST(('0x'||substr(md5(sh),1,15)) AS BIGINT) % 2147483647 AS h1,
                 CAST(('0x'||substr(md5(sh),16,15)) AS BIGINT) % 2147483647 AS h2 FROM sh
        ), hx AS (
          SELECT doc_id, h1, h2, unnest(generate_series(0, 7)) AS hi FROM hs
        )
        SELECT doc_id AS id, CAST(hi AS INT) AS hi,
               min((h1 + hi * h2) % 2147483647) AS mh
        FROM hx GROUP BY 1, 2
      """)),

    // ---- full shingle→minhash→band→bucket-join candidate pairs
    // (k=16, 4 bands × 4 rows).
    Q(
      "pq03_lsh_pairs",
      (s, dir) => lshSigsAndPairs(s, dir)._3,
      Some(s"""
        WITH pos AS (
          SELECT doc_id, text, unnest(generate_series(1, greatest(length(text)-4, 1))) AS pos FROM documents
        ), sh AS (
          SELECT doc_id, substr(text, CAST(pos AS INT), 5) AS sh FROM pos
        ), hs AS (
          SELECT doc_id,
                 CAST(('0x'||substr(md5(sh),1,15)) AS BIGINT) % 2147483647 AS h1,
                 CAST(('0x'||substr(md5(sh),16,15)) AS BIGINT) % 2147483647 AS h2 FROM sh
        ), hx AS (
          SELECT doc_id, h1, h2, unnest(generate_series(0, 15)) AS hi FROM hs
        ), sigs AS (
          SELECT doc_id, CAST(hi AS INT) AS hi,
                 min((h1 + hi * h2) % 2147483647) AS mh
          FROM hx GROUP BY 1, 2
        ), bsig AS (
          SELECT doc_id, hi // 4 AS band,
                 md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY hi)) AS band_sig
          FROM sigs GROUP BY doc_id, hi // 4
        )
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bsig a JOIN bsig b
          ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
      """)),

    // ---- simhash (16-bit, token-majority) per document.
    Q(
      "pq04_simhash",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        Dedup.simHash(d, col("doc_id"), col("text"), bits = 16)
      },
      Some(s"""
        WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        h AS (SELECT doc_id, ${dh("tok")} AS h FROM toks),
        bits AS (SELECT doc_id, h, unnest(generate_series(0, 15)) AS b FROM h),
        votes AS (SELECT doc_id, b, sum(((h >> CAST(b AS INT)) & 1) * 2 - 1) AS vote FROM bits GROUP BY 1, 2)
        SELECT doc_id AS id,
               CAST(sum(CASE WHEN vote >= 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY 1
      """)),

    // ---- simhash near-dup pairs within language blocks, Hamming <= 3.
    // Registered form is the pigeonhole-banded bucket join (4 bands of 4 bits;
    // any pair with dist <= 3 must share a whole band), additionally blocked
    // on language — provably identical output to the blocked cross product
    // the oracle runs, but linear-scan + bucket-shuffle shaped: at 100 TB a
    // language block is billions of docs, and the cross product would be the
    // bottleneck. Equality of the two forms is asserted in DedupSpec.
    Q(
      "pq05_simhash_pairs",
      (s, dir) => {
        // lang rides the same scan as the native simhash — no join-back;
        // the banded self-join then reuses ONE exchange for both sides
        // (input spread: the 16-bit simhash gram pass dominates)
        val d = Tables.spreadForRowWork(Tables.documents(s, dir))
        val sims = d.select(col("doc_id").as("id"),
          graft.functions.sim_hash(col("text"), 16).as("simhash"), col("lang"))
        Dedup.simHashBandedPairs(sims, bits = 16, bands = 4, maxDist = 3,
          blockCol = Some(col("lang")))
      },
      Some(s"""
        WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        h AS (SELECT doc_id, ${dh("tok")} AS h FROM toks),
        bits AS (SELECT doc_id, h, unnest(generate_series(0, 15)) AS b FROM h),
        votes AS (SELECT doc_id, b, sum(((h >> CAST(b AS INT)) & 1) * 2 - 1) AS vote FROM bits GROUP BY 1, 2),
        sims AS (
          SELECT doc_id AS id,
                 sum(CASE WHEN vote >= 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS simhash
          FROM votes GROUP BY 1),
        sl AS (SELECT s.id, s.simhash, d.lang FROM sims s JOIN documents d ON d.doc_id = s.id)
        SELECT a.id AS id_a, b.id AS id_b, bit_count(xor(a.simhash, b.simhash)) AS dist
        FROM sl a JOIN sl b ON a.lang = b.lang AND a.id < b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      """)),

    // ---- word-3-gram Jaccard >= 0.4 within language blocks; threshold via
    // integer cross-multiplication, so no float compare anywhere. Grams in
    // more than 64 documents OF THE SAME LANGUAGE are dropped before
    // sizes/intersections on BOTH engines (stop-grams are language-local,
    // and per-block DF is what the blocked posting lists bound): they are
    // uninformative for near-dup detection and the quadratic hot keys of
    // the inverted-index self-join at 100 TB.
    Q(
      "pq06_jaccard_pairs",
      (s, dir) => {
        // single-file testdata = one row group = one scan task; fan the
        // expensive shingle/gram map phase out over all cores (identity on
        // multi-split inputs — Tables.spreadForRowWork)
        val d = Tables.spreadForRowWork(Tables.documents(s, dir))
        Dedup.ngramJaccardPairs(d, col("doc_id"), col("text"), col("lang"),
          n = 3, thresholdNum = 2, thresholdDen = 5, maxDocFreq = Some(64L))
      },
      Some("""
        WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
        idx AS (SELECT doc_id, lang, t, unnest(generate_series(0, greatest(len(t)-3, 0))) AS i FROM toks),
        grams0 AS (SELECT DISTINCT doc_id, lang,
                     CAST(('0x'||substr(md5(array_to_string(t[CAST(i+1 AS INT):CAST(i+3 AS INT)], ' ')),1,15)) AS BIGINT) AS g
                   FROM idx),
        rare AS (SELECT lang, g FROM grams0 GROUP BY lang, g HAVING count(*) <= 64),
        grams AS (SELECT grams0.* FROM grams0 JOIN rare USING (lang, g)),
        sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM grams a JOIN grams b ON a.g = b.g AND a.lang = b.lang AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT id_a, id_b, inter, sa.sz + sb.sz - inter AS uni
        FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        WHERE inter * 5 >= (sa.sz + sb.sz - inter) * 2
      """)),

    // ---- embedding cosine near-dup pairs, blocked on the sign-LSH home
    // bucket — the quadratic step runs only INSIDE buckets, so no registered
    // query carries an all-pairs join (the unblocked form survives solely as
    // DedupSpec's recall oracle for pq13). Fully hash-checked: the oracle SQL
    // recomputes the identical bucket (same md5 hyperplane components, same
    // left-fold dot, same >= 0 sign rule) and the identical cosine.
    Q(
      "pq07_embed_neardup",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        Dedup.embeddingNearPairs(e, col("vec_id"), col("embedding"),
          graft.functions.sign_lsh(col("embedding"), 4), minCosine = 0.4)
      },
      Some("""
        WITH b AS (
          SELECT vec_id, embedding,
            list_sum(list_transform(generate_series(0,3), p ->
              CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(generate_series(1, len(embedding)), i ->
                  CAST(embedding[CAST(i AS INT)] AS DOUBLE) *
                  (CAST(CAST(('0x'||substr(md5(CAST(p AS VARCHAR)||':'||CAST(i-1 AS VARCHAR)),1,15)) AS BIGINT) % 1000000 AS DOUBLE) / 2000000.0))),
                (acc,x) -> acc + x) >= 0
              THEN CAST(1 AS BIGINT) << CAST(p AS INT) ELSE CAST(0 AS BIGINT) END)) AS bucket
          FROM embeddings
        ), p AS (
          SELECT x.vec_id AS id_a, y.vec_id AS id_b, x.embedding AS va, y.embedding AS vb
          FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
        ), c AS (
          SELECT id_a, id_b,
            list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(generate_series(1, len(va)), i -> CAST(va[CAST(i AS INT)] AS DOUBLE) * CAST(vb[CAST(i AS INT)] AS DOUBLE))), (acc, x) -> acc + x) AS dot,
            list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(generate_series(1, len(va)), i -> CAST(va[CAST(i AS INT)] AS DOUBLE) * CAST(va[CAST(i AS INT)] AS DOUBLE))), (acc, x) -> acc + x) AS naa,
            list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(generate_series(1, len(vb)), i -> CAST(vb[CAST(i AS INT)] AS DOUBLE) * CAST(vb[CAST(i AS INT)] AS DOUBLE))), (acc, x) -> acc + x) AS nbb
          FROM p)
        SELECT id_a, id_b, round(dot / (sqrt(naa) * sqrt(nbb)), 4) AS cos_r
        FROM c WHERE dot / (sqrt(naa) * sqrt(nbb)) >= 0.4
          AND NOT isnan(dot / (sqrt(naa) * sqrt(nbb)))
      """)),

    // ---- exact cosine top-k (k=5) for a broadcast query set.
    Q(
      "pq08_knn_brute",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val queries = e.filter(col("vec_id") % 50 === 0)
        Knn.bruteForceTopK(e, queries, "vec_id", "embedding", k = 5)
      },
      Some("""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
        c AS (SELECT vec_id AS nbr_id, embedding AS nv FROM embeddings),
        s AS (
          SELECT query_id, nbr_id,
            round(
              list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(generate_series(1, len(qv)), i -> CAST(qv[CAST(i AS INT)] AS DOUBLE) * CAST(nv[CAST(i AS INT)] AS DOUBLE))), (acc, x) -> acc + x)
              / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(generate_series(1, len(qv)), i -> CAST(qv[CAST(i AS INT)] AS DOUBLE) * CAST(qv[CAST(i AS INT)] AS DOUBLE))), (acc, x) -> acc + x))
               * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(generate_series(1, len(nv)), i -> CAST(nv[CAST(i AS INT)] AS DOUBLE) * CAST(nv[CAST(i AS INT)] AS DOUBLE))), (acc, x) -> acc + x))), 4) AS cos_r
          FROM c CROSS JOIN q WHERE query_id <> nbr_id)
        SELECT query_id, rank, nbr_id, cos_r FROM (
          SELECT query_id, nbr_id, cos_r,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos_r DESC, nbr_id ASC) AS rank
          FROM s
        ) WHERE rank <= 5
      """)),

    // ---- embedding near-dup, scale path (the HEADLINE form; pq07's exact
    // all-pairs is its correctness baseline): sign-LSH buckets with one-flip
    // multi-probe — linear scan + bucket join instead of all pairs. Fully
    // hash-checked: the bucketing is the deterministic md5-hyperplane family,
    // so the oracle replays home buckets, the one-flip probe expansion
    // (j = 0 home, j >= 1 flips bit j-1), the (home a) ∩ (probe set b)
    // candidate join and the exact cosine — recall vs the exact all-pairs
    // form stays asserted in DedupSpec (>= 0.8 on a seeded near-dup corpus).
    Q(
      "pq13_embed_neardup_lsh",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        Dedup.embeddingNearPairsLsh(
          e, col("vec_id"), col("embedding"), planes = 4, probes = 1, minCosine = 0.4)
      },
      Some(s"""
        WITH b AS (
          SELECT vec_id, embedding, ${oLshBucket("embedding", "0")} AS bucket
          FROM embeddings),
        pr AS (
          SELECT vec_id, bucket AS home, unnest(generate_series(0, 4)) AS j FROM b),
        probed AS (
          SELECT vec_id,
                 CASE WHEN j = 0 THEN home
                      ELSE xor(home, CAST(1 AS BIGINT) << CAST(j - 1 AS INT)) END AS bucket
          FROM pr),
        cand AS (
          SELECT DISTINCT a.vec_id AS id_a, pb.vec_id AS id_b
          FROM b a JOIN probed pb ON a.bucket = pb.bucket AND a.vec_id < pb.vec_id),
        sc AS (
          SELECT cand.id_a, cand.id_b,
                 ${oCos("x.embedding", "y.embedding")} AS cos
          FROM cand JOIN b x ON x.vec_id = cand.id_a JOIN b y ON y.vec_id = cand.id_b)
        SELECT id_a, id_b, round(cos, 4) AS cos_r
        FROM sc WHERE cos >= 0.4 AND NOT isnan(cos)
      """)),

    // ---- sign-LSH approximate top-k: 8 independent hyperplane tables with
    // query-side one-flip multi-probe — the scale path (bucketed candidates;
    // the table union lifts recall to >= 0.7 vs brute force where a single
    // probed table plateaus near 0.4 — asserted in DedupSpec). Fully
    // hash-checked: table t hashes global planes [t*4, t*4+4), so the oracle
    // replays all 8 bucket families, the query-side one-flip probes, the
    // per-table candidate join (deduped across tables like
    // signLshCandidates) and the exact-cosine rank.
    Q(
      "pq09_knn_lsh",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val queries = e.filter(col("vec_id") % 50 === 0)
        Knn.signLshTopK(e, queries, "vec_id", "embedding", k = 5,
          planes = 4, probes = 1, tables = 8)
      },
      Some(s"""
        WITH tabs AS (SELECT unnest(generate_series(0, 7)) AS t),
        cb AS (
          SELECT vec_id, embedding, t, ${oLshBucket("embedding", "t*4")} AS bucket
          FROM embeddings CROSS JOIN tabs),
        qpr AS (
          SELECT vec_id, t, bucket AS home, unnest(generate_series(0, 4)) AS j
          FROM cb WHERE vec_id % 50 = 0),
        qprobes AS (
          SELECT vec_id, t,
                 CASE WHEN j = 0 THEN home
                      ELSE xor(home, CAST(1 AS BIGINT) << CAST(j - 1 AS INT)) END AS bucket
          FROM qpr),
        cand AS (
          SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS nbr_id
          FROM cb c JOIN qprobes q
            ON c.t = q.t AND c.bucket = q.bucket AND q.vec_id <> c.vec_id),
        e0 AS (SELECT vec_id, embedding FROM embeddings),
        sc AS (
          SELECT cand.query_id, cand.nbr_id,
                 round(${oCos("x.embedding", "y.embedding")}, 4) AS cos_r
          FROM cand JOIN e0 x ON x.vec_id = cand.query_id
                    JOIN e0 y ON y.vec_id = cand.nbr_id)
        SELECT query_id, CAST(rank AS INT) AS rank, nbr_id, cos_r FROM (
          SELECT query_id, nbr_id, cos_r,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_r DESC, nbr_id ASC) AS rank
          FROM sc) WHERE rank <= 5
      """)),

    // ---- IVF approximate top-k: the inverted-file scale path (coarse
    // quantizer + nprobe list search), the data-adaptive alternative to
    // pq09's sign-LSH. Fully hash-checked: centroids are the deterministic
    // ivf-salt hash sample, assignment argmax ties to the smallest cid, so
    // the oracle replays the whole coarse tier (oIvfCoarse) and the exact
    // cosine rank over the probed lists. Recall vs brute force stays
    // asserted in DedupSpec.
    Q(
      "pq14_knn_ivf",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val queries = e.filter(col("vec_id") % 50 === 0)
        Knn.ivfTopK(e, queries, "vec_id", "embedding", k = 5, nlist = 16, nprobe = 4)
      },
      Some(s"""
        WITH p AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        ${oIvfCoarse(nlist = 16, nprobe = 4, queryPred = "p.vec_id % 50 = 0")},
        cand AS (
          SELECT DISTINCT q.query_id, a.nbr_id
          FROM asg a JOIN qp q ON a.cid = q.cid AND q.query_id <> a.nbr_id),
        sc AS (
          SELECT cand.query_id, cand.nbr_id,
                 round(${oCos("x.v", "y.v")}, 4) AS cos_r
          FROM cand JOIN p x ON x.vec_id = cand.query_id
                    JOIN p y ON y.vec_id = cand.nbr_id)
        SELECT query_id, CAST(rank AS INT) AS rank, nbr_id, cos_r FROM (
          SELECT query_id, nbr_id, cos_r,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_r DESC, nbr_id ASC) AS rank
          FROM sc) WHERE rank <= 5
      """)),

    // ---- the composed quantized-ANN stack (pq14's coarse tier + pq31's
    // int8 rescoring + an exact re-rank of the survivors): the production
    // shape the tiers were built for. Fully hash-checked — every tier is
    // deterministic (coarse: oIvfCoarse; rescore: integer dots, top-20 by
    // (iscore desc, id asc) — the bounded-heap contract; re-rank: exact
    // cosine), so the oracle replays all three. Recall floor vs pq08 stays
    // asserted in DedupSpec (approximate by DESIGN, exact by construction).
    Q(
      "pq35_knn_quantized_stack",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val queries = e.filter(col("vec_id") % 50 === 0)
        Knn.ivfInt8TopK(e, queries, "vec_id", "embedding",
          k = 5, nlist = 16, nprobe = 4, rescoreFactor = 4)
      },
      Some(s"""
        WITH p AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        ${oIvfCoarse(nlist = 16, nprobe = 4, queryPred = "p.vec_id % 50 = 0")},
        cand AS (
          SELECT DISTINCT q.query_id, a.nbr_id
          FROM asg a JOIN qp q ON a.cid = q.cid AND q.query_id <> a.nbr_id),
        ex AS (
          SELECT vec_id,
                 list_max(list_transform(embedding, x -> abs(x))) AS absmax,
                 unnest(generate_series(0, CAST(len(embedding) AS INT) - 1)) AS dim,
                 unnest(embedding) AS x
          FROM embeddings
        ), qz AS (
          SELECT vec_id, dim,
                 CASE WHEN absmax = 0 THEN 0
                      ELSE CAST(floor(CAST(x AS DOUBLE) / CAST(absmax AS DOUBLE) * 127.0) AS BIGINT)
                 END AS q8
          FROM ex
        ), resc AS (
          SELECT cand.query_id, cand.nbr_id, sum(q.q8 * c.q8) AS iscore
          FROM cand JOIN qz q ON q.vec_id = cand.query_id
                    JOIN qz c ON c.vec_id = cand.nbr_id AND c.dim = q.dim
          GROUP BY 1, 2
        ), surv AS (
          SELECT query_id, nbr_id FROM (
            SELECT query_id, nbr_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY iscore DESC, nbr_id ASC) AS rn
            FROM resc) WHERE rn <= 20
        ), sc AS (
          SELECT surv.query_id, surv.nbr_id,
                 round(${oCos("x.v", "y.v")}, 4) AS cos_r
          FROM surv JOIN p x ON x.vec_id = surv.query_id
                    JOIN p y ON y.vec_id = surv.nbr_id)
        SELECT query_id, CAST(rank AS INT) AS rank, nbr_id, cos_r FROM (
          SELECT query_id, nbr_id, cos_r,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_r DESC, nbr_id ASC) AS rank
          FROM sc) WHERE rank <= 5
      """)),

    // ---- MMR result diversification over the int8 top-m pool (Carbonell &
    // Goldstein 1998): greedy argmax of wRel·rel − wDiv·max-sim-to-selected,
    // k rounds. Everything is an integer dot product, so the iterative
    // greedy selection is hash-checkable by unrolling the rounds into CTEs
    // (the pq39 k-means pattern). The corpus-scale work (scoring scan +
    // candidate fetch) is audited in PlanAuditSpec; the greedy loop is
    // driver-resident over a bounded queries×m set by design.
    Q(
      "pq50_knn_mmr",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        Knn.mmrTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 4, m = 10, wRel = 3L, wDiv = 1L)
      },
      Some(s"""
        WITH ex AS (
          SELECT vec_id,
                 list_max(list_transform(embedding, x -> abs(x))) AS absmax,
                 unnest(generate_series(0, CAST(len(embedding) AS INT) - 1)) AS dim,
                 unnest(embedding) AS x
          FROM embeddings
        ), qz AS (
          SELECT vec_id, dim,
                 CASE WHEN absmax = 0 THEN 0
                      ELSE CAST(floor(CAST(x AS DOUBLE) / CAST(absmax AS DOUBLE) * 127.0) AS BIGINT)
                 END AS q8
          FROM ex
        ), sc AS (
          SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
                 CAST(sum(q.q8 * c.q8) AS BIGINT) AS rel
          FROM qz q JOIN qz c ON q.dim = c.dim AND q.vec_id <> c.vec_id
          WHERE q.vec_id < 10
          GROUP BY 1, 2
        ), cand AS (
          SELECT query_id, nbr_id, rel FROM (
            SELECT query_id, nbr_id, rel,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY rel DESC, nbr_id ASC) AS rn
            FROM sc) WHERE rn <= 10
        ), cids AS (SELECT DISTINCT nbr_id AS id FROM cand
        ), cdot AS (
          SELECT a.vec_id AS ia, b.vec_id AS ib,
                 CAST(sum(a.q8 * b.q8) AS BIGINT) AS d
          FROM qz a JOIN qz b ON a.dim = b.dim
          JOIN cids x ON x.id = a.vec_id
          JOIN cids y ON y.id = b.vec_id
          GROUP BY 1, 2
        ),
        ${oMmrRounds(4, 3L, 1L)}
        SELECT query_id, CAST(rank AS INT) AS rank, nbr_id, rel, mmr
        FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
              UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4)
      """)),

    // ---- token stats + rolling-hash fingerprint per document.
    Q(
      "pq10_text_stats",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        d.select(
          col("doc_id"),
          TextFunctions.token_count(col("text")).as("n_tokens"),
          TextFunctions.punct_count(col("text")).as("n_punct"),
          TextFunctions.fingerprint(col("text")).as("fp"))
      },
      Some("""
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               length(text) - length(translate(text, '.,!?;:', '')) AS n_punct,
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
                 (acc, c) -> (acc * 31 + c) % 2147483647) AS fp
        FROM documents
      """)),

    // ---- quality scoring + stopword-vote language ID per document.
    Q(
      "pq11_quality_langid",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        d.select(
          col("doc_id"),
          TextFunctions.quality_score(col("text")).as("quality"),
          TextFunctions.lang_guess(col("text")).as("lang_pred"),
          col("lang").as("lang_label"))
      },
      Some("""
        WITH t AS (SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents),
        sc AS (
          SELECT doc_id, lang, text, toks,
            CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','it','that','for'))) AS DOUBLE) AS en_s,
            CAST(len(list_filter(toks, x -> x IN ('der','die','und','das','ist','nicht','mit','ein','zu','den'))) AS DOUBLE) AS de_s,
            CAST(len(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','es','se','no'))) AS DOUBLE) AS es_s,
            CAST(len(list_filter(toks, x -> x IN ('le','la','de','et','un','est','pour','que','dans','ce'))) AS DOUBLE) AS fr_s
          FROM t)
        SELECT doc_id,
          round(0.4 * (en_s / len(toks)) +
                0.3 * least(len(toks) / 100.0, 1.0) +
                0.3 * (1.0 - (length(text) - length(translate(text, '.,!?;:', ''))) / length(text)), 6) AS quality,
          list_max([
            {'s': CAST(de_s AS INT), 'l': 'de'},
            {'s': CAST(en_s AS INT), 'l': 'en'},
            {'s': CAST(es_s AS INT), 'l': 'es'},
            {'s': CAST(fr_s AS INT), 'l': 'fr'}]).l AS lang_pred,
          lang AS lang_label
        FROM sc
      """)),

    // ---- character-n-gram language ID (the production-shaped model; pq11's
    // stopword vote is the word-level baseline). Profile lists interpolate
    // from the same Scala constants the operator uses, so the two engines
    // can never drift.
    Q(
      "pq15_langid_ngram",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        // contains-probe form: 40 substring probes per row, no trigram-array
        // materialization (bit-identical to the intersection form the oracle
        // computes — see lang_guess_ngram's scaladoc)
        d.select(
          col("doc_id"),
          TextFunctions.lang_guess_ngram(col("text")).as("lang_ng"),
          col("lang").as("lang_label"))
      },
      Some {
        def profList(prof: Seq[String]) = prof.map(t => s"'${t.replace("'", "''")}'").mkString("[", ", ", "]")
        s"""
        WITH tg AS (
          SELECT doc_id, lang,
                 list_distinct(list_transform(generate_series(1, greatest(length(text) - 2, 1)),
                                              i -> substr(text, CAST(i AS INT), 3))) AS g
          FROM documents)
        SELECT doc_id,
          list_max([
            {'s': CAST(len(list_intersect(g, ${profList(graft.functions.TrigramProfiles.de)})) AS INT), 'l': 'de'},
            {'s': CAST(len(list_intersect(g, ${profList(graft.functions.TrigramProfiles.en)})) AS INT), 'l': 'en'},
            {'s': CAST(len(list_intersect(g, ${profList(graft.functions.TrigramProfiles.es)})) AS INT), 'l': 'es'},
            {'s': CAST(len(list_intersect(g, ${profList(graft.functions.TrigramProfiles.fr)})) AS INT), 'l': 'fr'}]).l AS lang_ng,
          lang AS lang_label
        FROM tg
      """
      }),

    // ---- multimodal asset wrapping: binary payload + typed metadata.
    // (Text bytes stand in for media bytes; the decode stage is the stubbed
    // FakeCodec, exercised in MultimodalSpec.)
    Q(
      "pq12_multimodal_meta",
      (s, dir) => {
        val d = Tables.documents(s, dir)
          .withColumn("payload", col("text").cast("binary"))
        Multimodal.toAssets(d, "doc_id", "payload", "text/fake")
          .select(
            col("asset_id"), col("media_type"),
            col("meta.byte_len").as("byte_len"),
            col("meta.n_frames").as("n_frames"),
            md5(col("data")).as("content_hash"))
      },
      Some("""
        SELECT doc_id AS asset_id, 'text/fake' AS media_type,
               length(text) AS byte_len,
               length(text) // 256 + 1 AS n_frames,
               md5(text) AS content_hash
        FROM documents
      """)),

    // ---- intra-document repetition signals (Gopher/RefinedWeb-style
    // quality filters): duplicate-token and top-bigram frequencies flag
    // boilerplate/generation loops. Integer outputs; thresholds are the
    // caller's integer cross-multiplication.
    Q(
      "pq16_repetition",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        TextFunctions.repetitionStats(d, col("doc_id"), col("text"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), base AS (
          SELECT doc_id,
                 CAST(len(t) AS INT) AS n_tokens,
                 CAST(len(list_distinct(t)) AS INT) AS n_distinct_tokens,
                 CASE WHEN len(t) < 2 THEN []
                      ELSE list_transform(generate_series(1, CAST(len(t) - 1 AS INT)),
                                          i -> t[i] || ' ' || t[i+1]) END AS bg
          FROM toks
        ), ex AS (
          SELECT doc_id, unnest(bg) AS bigram FROM base
        ), counted AS (
          SELECT doc_id, bigram, count(*) AS c FROM ex GROUP BY 1, 2
        ), agg AS (
          SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                 count(*) AS n_distinct_bigrams,
                 CAST(max(c) AS BIGINT) AS top_bigram_count
          FROM counted GROUP BY 1
        )
        SELECT b.doc_id, b.n_tokens, b.n_distinct_tokens,
               coalesce(a.n_bigrams, 0) AS n_bigrams,
               coalesce(a.n_distinct_bigrams, 0) AS n_distinct_bigrams,
               coalesce(a.top_bigram_count, 0) AS top_bigram_count
        FROM base b LEFT JOIN agg a USING (doc_id)
      """)),

    // ---- benchmark decontamination: every 50th doc stands in for the eval
    // suite; the rest of the corpus is flagged by exact word-trigram
    // overlap. Benchmark n-grams broadcast; the corpus never shuffles text.
    Q(
      "pq17_decontaminate",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        Dedup.contaminationFlags(
          d.filter(col("doc_id") % 50 =!= 0), col("doc_id"), col("text"),
          d.filter(col("doc_id") % 50 === 0), col("text"), n = 3)
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), ng AS (
          SELECT doc_id,
                 unnest(list_distinct(list_transform(
                   generate_series(1, greatest(CAST(len(t) AS INT) - 2, 1)),
                   i -> CAST(('0x'||substr(md5(array_to_string(t[i:i+2], ' ')),1,15)) AS BIGINT)))) AS ng
          FROM toks
        ), bench AS (
          SELECT DISTINCT ng FROM ng WHERE doc_id % 50 = 0
        )
        SELECT n.doc_id, count(*) AS n_contaminated
        FROM ng n JOIN bench b USING (ng)
        WHERE n.doc_id % 50 <> 0
        GROUP BY 1
      """)),

    // ---- exact-substring dedup signal (Lee et al. 2022): per doc, how many
    // 5-token windows also occur in another document. Windows are hashed at
    // the scan; all shuffles move fixed-width rows.
    Q(
      "pq18_dup_spans",
      (s, dir) => {
        val d = Tables.spreadForRowWork(Tables.documents(s, dir))
        Dedup.duplicatedSpanStats(d, col("doc_id"), col("text"), n = 5)
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), pos AS (
          SELECT doc_id, t,
                 unnest(generate_series(1, greatest(CAST(len(t) AS INT) - 4, 1))) AS i
          FROM toks
        ), g AS (
          SELECT doc_id,
                 CAST(('0x'||substr(md5(array_to_string(t[i:i+4], ' ')),1,15)) AS BIGINT) AS g
          FROM pos
        ), pg AS (
          SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2
        ), gdf AS (
          SELECT g, count(*) AS df FROM pg GROUP BY 1
        )
        SELECT pg.doc_id,
               CAST(sum(c) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN df > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup_grams
        FROM pg JOIN gdf USING (g) GROUP BY 1
      """)),

    // ---- dataset-mixing sample: per-language per-mille rates decided by
    // each row's own id hash — reproducible, order-independent, zero-shuffle.
    Q(
      "pq19_stratified_sample",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        graft.sampling.Sampling
          .stratifiedByHash(d, col("doc_id"), col("lang"),
            Map("en" -> 900, "zh" -> 600, "de" -> 400, "es" -> 250),
            defaultPerMille = 100)
          .select(col("doc_id"), col("lang"), col("source"), col("sample_bucket"))
      },
      Some("""
        WITH b AS (
          SELECT doc_id, lang, source,
                 CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 1000
                   AS sample_bucket
          FROM documents
        )
        SELECT doc_id, lang, source, sample_bucket FROM b
        WHERE sample_bucket < CASE lang WHEN 'en' THEN 900 WHEN 'zh' THEN 600
                                        WHEN 'de' THEN 400 WHEN 'es' THEN 250
                                        ELSE 100 END
      """)),

    // ---- per-doc top-3 characteristic terms, tf-idf ordering in pure
    // integers (tf desc, corpus df asc, token): no float idf to drift.
    Q(
      "pq20_top_terms",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        TextFunctions.topTerms(d, col("doc_id"), col("text"), k = 3)
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ), tfreq AS (
          SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
        ), dfreq AS (
          SELECT tok, count(*) AS df FROM tfreq GROUP BY 1
        ), r AS (
          SELECT tfreq.doc_id, tfreq.tok, tfreq.tf, dfreq.df,
                 row_number() OVER (PARTITION BY tfreq.doc_id
                                    ORDER BY tfreq.tf DESC, dfreq.df ASC, tfreq.tok ASC) AS rank
          FROM tfreq JOIN dfreq USING (tok)
        )
        SELECT doc_id, CAST(rank AS INT) AS rank, tok,
               CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
        FROM r WHERE rank <= 3
      """)),

    // ---- RAG chunking: 64-token windows, 16-token overlap (stride 48);
    // row-local sequence→slice→posexplode, zero shuffles.
    Q(
      "pq21_chunks",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        TextFunctions.chunkByTokens(d, col("doc_id"), col("text"),
          chunkSize = 64, overlap = 16)
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), st AS (
          SELECT doc_id, t,
                 unnest(generate_series(1, greatest(CAST(len(t) AS INT), 1), 48)) AS i
          FROM toks
        )
        SELECT doc_id, CAST((i - 1) // 48 AS INT) AS chunk_idx,
               array_to_string(t[i:i+63], ' ') AS chunk_text,
               CAST(len(t[i:i+63]) AS INT) AS n_tokens
        FROM st
      """)),

    // ---- flagship curation pipeline: exact dedup → integer quality gates →
    // stratified mixing sample, one composed declarative plan. One
    // content-hash shuffle + one co-partitioned join; text never shuffles.
    Q(
      "pq22_curation",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        graft.pipeline.Curation.curate(d, col("doc_id"), col("text"), col("lang"),
          minTokens = 30, maxTokens = 80, minDistinctPct = 40,
          Map("en" -> 900, "zh" -> 600, "de" -> 400, "es" -> 250),
          defaultPerMille = 100)
      },
      Some("""
        WITH base AS (
          SELECT doc_id, lang AS stratum, md5(text) AS content_hash,
                 CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
                 CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct_tokens
          FROM documents
        ), keepers AS (
          SELECT content_hash, min(doc_id) AS doc_id FROM base GROUP BY 1
        ), gated AS (
          SELECT b.doc_id, b.stratum, b.n_tokens, b.n_distinct_tokens
          FROM base b JOIN keepers k USING (content_hash, doc_id)
          WHERE b.n_tokens BETWEEN 30 AND 80
            AND b.n_distinct_tokens * 100 >= b.n_tokens * 40
        ), bucketed AS (
          SELECT *, CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 1000
                      AS sample_bucket
          FROM gated
        )
        SELECT doc_id, stratum, n_tokens, n_distinct_tokens, sample_bucket
        FROM bucketed
        WHERE sample_bucket < CASE stratum WHEN 'en' THEN 900 WHEN 'zh' THEN 600
                                           WHEN 'de' THEN 400 WHEN 'es' THEN 250
                                           ELSE 100 END
      """)),

    // ---- near-dup CLUSTERS: connected components over the LSH candidate
    // pairs (HashMin label propagation; rounds = component diameter). The
    // oracle recomputes the same clusters by recursive transitive closure.
    Q(
      "pq23_dedup_clusters",
      (s, dir) => Dedup.connectedComponents(lshSigsAndPairs(s, dir)._3),
      Some(s"""
        WITH RECURSIVE $ccCtes
        SELECT id, cluster_id FROM clusters
      """)),

    // ---- near-dup keep-policy: drop every cluster member except the
    // minimum id (= the cluster label), keep all singleton docs. The drop
    // set is |cluster members| ≪ corpus, so it BROADCASTS and the corpus
    // side is one scan + hash-probe anti join — no corpus shuffle.
    Q(
      "pq24_neardup_survivors",
      (s, dir) => {
        val (d, _, pairs) = lshSigsAndPairs(s, dir)
        val drops = Dedup.connectedComponents(pairs)
          .filter(col("id") =!= col("cluster_id"))
        d.join(broadcast(drops), d("doc_id") === drops("id"), "left_anti")
          .select(col("doc_id"), col("lang"), col("source"))
      },
      Some(s"""
        WITH RECURSIVE $ccCtes
        SELECT doc_id, lang, source FROM documents d
        WHERE NOT EXISTS (SELECT 1 FROM clusters c
                          WHERE c.id = d.doc_id AND c.id <> c.cluster_id)
      """)),

    // ---- deletion propagation (takedown path): remove every doc_id % 5
    // from the corpus, re-elect keepers in the near-dup clusters the
    // removals touched, and emit the reprocess delta — the previously-
    // dropped duplicates that must now (re)enter the corpus as canonicals.
    // The engine re-clusters ONLY the affected clusters (broadcast takedown
    // set, cluster-sized sub-graph CC); the oracle recomputes the ENTIRE
    // post-deletion clustering from scratch (a second recursive CC over the
    // survivor-restricted pair list) — hash equality proves the incremental
    // path is recompute-equivalent, including bridge-removal cluster splits
    // and survivors isolated into singletons.
    Q(
      "pq97_deletion_reelect",
      (s, dir) => {
        val (d, _, pairs0) = lshSigsAndPairs(s, dir)
        // pin the LSH pair lineage: BOTH the full CC and the re-elect's
        // sub-graph CC materialize it, and unpinned each would recompute
        // the whole shingle→minhash→band pipeline a second time
        val pairs = pairs0.localCheckpoint()
        val clusters = Dedup.connectedComponents(pairs)
        val removed = d.select(col("doc_id")).filter(col("doc_id") % 5 === 0)
        Dedup.reElectAfterDeletion(pairs, clusters, removed)
      },
      Some(s"""
        WITH RECURSIVE $ccCtes,
        removed AS (SELECT doc_id AS rid FROM documents WHERE doc_id % 5 = 0),
        spairs AS (
          SELECT id_a, id_b FROM pairs
          WHERE id_a NOT IN (SELECT rid FROM removed)
            AND id_b NOT IN (SELECT rid FROM removed)),
        sedges AS (
          SELECT id_a AS u, id_b AS v FROM spairs
          UNION SELECT id_b, id_a FROM spairs),
        sreach AS (
          SELECT u, v FROM sedges
          UNION
          SELECT r.u, e.v FROM sreach r JOIN sedges e ON r.v = e.u),
        sclusters AS (
          SELECT u AS id, least(u, min(v)) AS nc FROM sreach GROUP BY u),
        snodes AS (
          SELECT c.id, c.cluster_id AS old_cluster_id,
                 coalesce(s.nc, c.id) AS new_cluster
          FROM clusters c LEFT JOIN sclusters s ON s.id = c.id
          WHERE c.id NOT IN (SELECT rid FROM removed))
        SELECT new_cluster AS new_keep_id, old_cluster_id,
               CAST(count(*) AS BIGINT) AS n_members
        FROM snodes
        GROUP BY 1, 2
        HAVING new_cluster <> old_cluster_id
      """)),

    // ---- candidate-pair VERIFICATION by minhash agreement: the estimated
    // Jaccard of a pair is (matching signature components)/k — integer
    // arithmetic end to end (cross-multiplied threshold n_match*2 >= k),
    // so the oracle reproduces it bit-exactly. This is the standard LSH
    // verify stage: bands propose, signatures confirm, only confirmed
    // pairs reach the (expensive) exact or clustering step. Two shuffle
    // joins of the tiny pair list against the signature table, both
    // hash-partitioned on the join id — the corpus text never moves.
    Q(
      "pq25_minhash_verify",
      (s, dir) => {
        val (_, sigs, pairs) = lshSigsAndPairs(s, dir)
        val k = 16
        val sa = sigs.select(col("id").as("id_a") +: (0 until k).map(i => col(s"mh$i").as(s"a$i")): _*)
        val sb = sigs.select(col("id").as("id_b") +: (0 until k).map(i => col(s"mh$i").as(s"b$i")): _*)
        pairs.join(sa, "id_a").join(sb, "id_b")
          .select(col("id_a"), col("id_b"),
            (0 until k).map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
              .reduce(_ + _).as("n_match"))
          .filter(col("n_match") * 2 >= k) // est. Jaccard >= 1/2
      },
      Some(s"""
        WITH $lshPairsCtes
        SELECT p.id_a, p.id_b,
               count(*) FILTER (WHERE sa.mh = sb.mh) AS n_match
        FROM pairs p
        JOIN sigs sa ON sa.doc_id = p.id_a
        JOIN sigs sb ON sb.doc_id = p.id_b AND sb.hi = sa.hi
        GROUP BY 1, 2
        HAVING count(*) FILTER (WHERE sa.mh = sb.mh) * 2 >= 16
      """)),

    // ---- per-label embedding centroids: posexplode → one partial-agg
    // shuffle on (label, dim). Components are quantized to 1e-6 fixed
    // point BEFORE aggregation (float→double is exact, ×1e6 and floor are
    // single IEEE ops, the sum is then INTEGER) so partition summation
    // order cannot change the result — the engine's determinism contract
    // applied to float aggregates. The centroid is recovered by two IEEE
    // divisions with no round() call, so both engines produce the
    // bit-identical double.
    Q(
      "pq26_label_centroids",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        e.select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
          .select(col("label"), col("dim"),
            floor(col("x").cast("double") * lit(1e6)).cast("long").as("xq"))
          .groupBy(col("label"), col("dim"))
          .agg(count(lit(1)).as("n_vecs"), sum(col("xq")).as("s_micro"))
          .select(col("label"), col("dim"), col("n_vecs"),
            (col("s_micro").cast("double") / col("n_vecs") / lit(1e6)).as("centroid"))
      },
      Some("""
        WITH ex AS (
          SELECT label, unnest(generate_series(0, CAST(len(embedding) AS INT) - 1)) AS dim,
                 unnest(embedding) AS x
          FROM embeddings
        ), q AS (
          SELECT label, dim, CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) AS xq
          FROM ex
        )
        SELECT label, CAST(dim AS INT) AS dim, count(*) AS n_vecs,
               CAST(sum(xq) AS DOUBLE) / count(*) / 1000000.0 AS centroid
        FROM q GROUP BY 1, 2
      """)),

    // ---- sequence packing (concat-then-window, 512-token budget, stratum
    // = lang): one window shuffle for the running offset, integer-exact.
    Q(
      "pq27_pack_sequences",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        TextFunctions.packSequences(d, col("doc_id"), col("text"), col("lang"),
          budgetTokens = 512)
      },
      Some("""
        WITH t AS (
          SELECT doc_id, lang AS stratum,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
          FROM documents
        ), o AS (
          SELECT doc_id, stratum, n_tokens,
                 CAST(sum(n_tokens) OVER (PARTITION BY stratum ORDER BY doc_id)
                      AS BIGINT) - n_tokens AS start_offset
          FROM t
        )
        SELECT doc_id, stratum, n_tokens, start_offset,
               start_offset // 512 AS pack_id
        FROM o
      """)),

    // ---- int8 embedding quantization (symmetric absmax scaling): the
    // storage-compression step before ANN indexing. Row-local; floor-based
    // quantization (not round) because floor on an IEEE double is
    // bit-identical across engines while round half-up/half-even is not.
    Q(
      "pq29_embed_quantize",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        e.select(col("vec_id"),
            array_max(transform(col("embedding"), x => abs(x))).as("absmax"),
            posexplode(col("embedding")).as(Seq("dim", "x")))
          .select(col("vec_id"), col("dim"),
            when(col("absmax") === lit(0f), lit(0L))
              .otherwise(floor(col("x").cast("double") / col("absmax").cast("double") * lit(127.0))
                .cast("long")).as("q8"))
      },
      Some("""
        WITH ex AS (
          SELECT vec_id,
                 list_max(list_transform(embedding, x -> abs(x))) AS absmax,
                 unnest(generate_series(0, CAST(len(embedding) AS INT) - 1)) AS dim,
                 unnest(embedding) AS x
          FROM embeddings
        )
        SELECT vec_id, CAST(dim AS INT) AS dim,
               CASE WHEN absmax = 0 THEN 0
                    ELSE CAST(floor(CAST(x AS DOUBLE) / CAST(absmax AS DOUBLE) * 127.0) AS BIGINT)
               END AS q8
        FROM ex
      """)),

    // ---- int8-quantized brute-force KNN (the rescoring tier of a
    // quantized ANN stack): integer dot products, so scores/order/top-k
    // are bit-exact against the oracle — no rounding anywhere.
    Q(
      "pq31_knn_int8",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        Knn.int8TopK(e, e.filter(col("vec_id") < 50), "vec_id", "embedding", k = 5)
      },
      Some("""
        WITH ex AS (
          SELECT vec_id,
                 list_max(list_transform(embedding, x -> abs(x))) AS absmax,
                 unnest(generate_series(0, CAST(len(embedding) AS INT) - 1)) AS dim,
                 unnest(embedding) AS x
          FROM embeddings
        ), qz AS (
          SELECT vec_id, dim,
                 CASE WHEN absmax = 0 THEN 0
                      ELSE CAST(floor(CAST(x AS DOUBLE) / CAST(absmax AS DOUBLE) * 127.0) AS BIGINT)
                 END AS q8
          FROM ex
        ), s AS (
          SELECT q.vec_id AS query_id, c.vec_id AS nbr_id, sum(q.q8 * c.q8) AS score
          FROM qz q JOIN qz c ON q.dim = c.dim AND q.vec_id <> c.vec_id
          WHERE q.vec_id < 50
          GROUP BY 1, 2
        ), r AS (
          SELECT query_id, nbr_id, CAST(score AS BIGINT) AS score,
                 row_number() OVER (PARTITION BY query_id ORDER BY score DESC, nbr_id ASC) AS rank
          FROM s
        )
        SELECT query_id, CAST(rank AS INT) AS rank, nbr_id, score
        FROM r WHERE rank <= 5
      """)),

    // ---- corpus profile report: per-(source, lang) doc/token/char volumes
    // and the exact-dup rate — the summary a curation run publishes. ONE
    // partial-agg shuffle; the distinct-content count rides the same
    // grouping (Spark plans count(distinct) as a two-phase expand).
    Q(
      "pq30_corpus_report",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        d.groupBy(col("source"), col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(TextFunctions.token_count(col("text")).cast("long")).as("n_tokens"),
            countDistinct(md5(col("text"))).as("n_distinct_contents"),
            sum(col("n_chars")).as("sum_chars"))
          .withColumn("n_dup_docs", col("n_docs") - col("n_distinct_contents"))
      },
      Some("""
        SELECT source, lang, count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
               count(DISTINCT md5(text)) AS n_distinct_contents,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               count(*) - count(DISTINCT md5(text)) AS n_dup_docs
        FROM documents GROUP BY 1, 2
      """)),

    // ---- fixed-count mixing: exactly 40 docs per language, selected by id
    // hash with id tiebreak — the hard-budget complement of pq19's
    // rate-based sample. One window shuffle on the stratum; nested across
    // budgets (a smaller budget is a strict prefix).
    Q(
      "pq34_fixed_count_sample",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        graft.sampling.Sampling.fixedCountByHash(
            d.select(col("doc_id"), col("lang")), col("doc_id"), col("lang"), 40)
          .select(col("doc_id"), col("stratum"))
      },
      Some(s"""
        SELECT doc_id, stratum FROM (
          SELECT doc_id, lang AS stratum,
                 row_number() OVER (
                   PARTITION BY lang
                   ORDER BY ${dh("CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC) AS rk
          FROM documents
        ) WHERE rk <= 40
      """)),

    // ---- corpus-level exact top-k terms: one partial-agg shuffle on the
    // token, fully ordered top-k. The ground truth pq33's sketch answers
    // approximately at scales where this shuffle is too expensive.
    Q(
      "pq32_corpus_top_terms",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        d.select(explode(TextFunctions.tokens(col("text"))).as("term"))
          .groupBy(col("term")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("term").asc)
          .limit(25)
      },
      Some("""
        SELECT term, count(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        GROUP BY term ORDER BY n DESC, term ASC LIMIT 25
      """)),

    // ---- SpaceSaving heavy hitters (custom TypedImperativeAggregate):
    // O(capacity) state per partition + one tiny merge instead of a
    // full-vocabulary shuffle — the sketch tier of pq32 for 100 TB streams.
    // At test scale capacity (256) exceeds the corpus vocabulary, so no
    // eviction occurs, estimates are exact with err=0, and the oracle can
    // hash-check the full output; SpaceSavingSpec covers the
    // eviction/ε-bound regime with synthetic large vocabularies.
    Q(
      "pq33_heavy_hitters",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        d.select(explode(TextFunctions.tokens(col("text"))).as("term"))
          .agg(graft.functions.space_saving(col("term"), 256).as("hh"))
          .select(explode(col("hh")).as("e"))
          .select(col("e.term").as("term"), col("e.est").as("est"), col("e.err").as("err"))
          .orderBy(col("est").desc, col("term").asc)
          .limit(25)
      },
      Some("""
        SELECT term, count(*) AS est, 0 AS err
        FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        GROUP BY term ORDER BY est DESC, term ASC LIMIT 25
      """)),

    // ---- fuzzy-exact dedup on the canonical text form (case/punct/
    // whitespace-insensitive): the cheap tier between exact and minhash.
    Q(
      "pq28_canonical_dedup",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        Dedup.exactByCanonicalContent(d, col("doc_id"), col("text"))
      },
      Some("""
        SELECT md5(CASE WHEN trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) = '' THEN lower(text) ELSE trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) END) AS canonical_hash,
               min(doc_id) AS keep_id, count(*) AS n_copies
        FROM documents GROUP BY 1
      """)),

    // ---- SemDeDup (Abbas et al. 2023): nearest-seed-centroid assignment,
    // then keep-min-id pruning of same-cluster cosine near-dups. Centroids
    // are the id-multiple-of-25 vectors so the oracle reproduces them; the
    // quadratic step runs only inside clusters. Fully hash-checked: same
    // bit-reproducible left-fold dot, same DESC-cos/ASC-cid argmax.
    Q(
      "pq36_semantic_dedup",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        Dedup.semanticClusterDedup(
          e, col("vec_id"), col("embedding"), seedModulus = 25L, minCosine = 0.4)
      },
      Some {
        def dot(a: String, b: String) =
          s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(generate_series(1, len($a)), i -> CAST($a[CAST(i AS INT)] AS DOUBLE) * CAST($b[CAST(i AS INT)] AS DOUBLE))), (acc, x) -> acc + x)"
        def cos(a: String, b: String) =
          s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
        s"""
        WITH e AS (SELECT vec_id, embedding FROM embeddings),
        c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id % 25 = 0),
        sc AS (
          SELECT e.vec_id, c.cid, ${cos("embedding", "cv")} AS ccos
          FROM e CROSS JOIN c),
        asg AS (
          SELECT vec_id, cid AS cluster FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid ASC) AS rn
            FROM sc) WHERE rn = 1),
        av AS (SELECT a.vec_id, a.cluster, e.embedding FROM asg a JOIN e ON e.vec_id = a.vec_id),
        dropped AS (
          SELECT DISTINCT b.vec_id AS id
          FROM av a JOIN av b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
          WHERE ${cos("a.embedding", "b.embedding")} >= 0.4)
        SELECT vec_id, cluster FROM asg WHERE vec_id NOT IN (SELECT id FROM dropped)
        """
      }),

    // ---- PII redaction. The synthetic corpus carries no PII, so both
    // engines append the SAME deterministic PII tail (email, phone, IPv4,
    // URL derived from doc_id) before scrubbing — the oracle then
    // hash-checks the full cleaned text plus per-type match counts. The
    // regexes are interpolated from TextFunctions.piiPatterns on BOTH
    // sides: one source of truth, no dialect drift.
    Q(
      "pq37_pii_redaction",
      (s, dir) => {
        val salt = concat(
          col("text"), lit(" reach user"), col("doc_id").cast("string"),
          lit("@mail-ex.org or +1 (555) 01"), (col("doc_id") % 100).cast("string"),
          lit(" node 10.2."), (col("doc_id") % 256).cast("string"),
          lit(".7 via https://ex.org/d/"), col("doc_id").cast("string"))
        Tables.spreadForRowWork(Tables.documents(s, dir)) // input spread
          .select(col("doc_id"), salt.as("salted"))
          .select(Seq(
            col("doc_id"),
            TextFunctions.redact_pii(col("salted")).as("clean")) ++
            TextFunctions.piiPatterns.map { case (name, re, _) =>
              TextFunctions.pii_count(col("salted"), re).as(s"n_$name")
            }: _*)
      },
      Some {
        val repl = TextFunctions.piiPatterns.foldLeft("salted") {
          case (inner, (_, re, tok)) => s"regexp_replace($inner, '$re', '$tok', 'g')"
        }
        val counts = TextFunctions.piiPatterns.map { case (name, re, _) =>
          s"len(regexp_extract_all(salted, '$re')) AS n_$name"
        }.mkString(",\n               ")
        s"""
        WITH s AS (
          SELECT doc_id,
                 text || ' reach user' || CAST(doc_id AS VARCHAR) ||
                 '@mail-ex.org or +1 (555) 01' || CAST(doc_id % 100 AS VARCHAR) ||
                 ' node 10.2.' || CAST(doc_id % 256 AS VARCHAR) ||
                 '.7 via https://ex.org/d/' || CAST(doc_id AS VARCHAR) AS salted
          FROM documents)
        SELECT doc_id, $repl AS clean,
               $counts
        FROM s
        """
      }),

    // ---- distributed Lloyd's k-means (2 update rounds, cosine assignment,
    // pq26's fixed-point means): the centroid trainer behind pq36/IVF.
    // Centroids live on the driver between iterations (k×d doubles, the
    // MLlib residency) and enter each pass as literals — assignment is a
    // row-local argmax, ZERO corpus shuffle. The oracle unrolls the SAME
    // two rounds as generated CTEs, so every assignment hash-matches.
    Q(
      "pq39_kmeans",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        Knn.kmeansAssignByCosine(
          e, col("vec_id"), col("embedding"), seedModulus = 25L, iters = 2)
      },
      Some(s"""
        WITH p AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        c0 AS (SELECT vec_id AS cid, v AS cv FROM p WHERE vec_id % 25 = 0),
        ${oKmeansRounds(2)}
        SELECT vec_id, cluster FROM af
      """)),

    // ---- production SemDeDup, composed: k-means-trained clusters (the
    // pq39 rounds) + pq36's keep-min-id in-cluster cosine pruning — the
    // full Abbas-et-al pipeline in one registered query. Same zero-
    // corpus-shuffle assignment; the quadratic step still runs only
    // inside (now data-adaptive) clusters.
    Q(
      "pq40_semantic_dedup_kmeans",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        Dedup.semanticClusterDedupKmeans(
          e, col("vec_id"), col("embedding"), seedModulus = 25L, iters = 2,
          minCosine = 0.4)
      },
      Some(s"""
        WITH p AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        c0 AS (SELECT vec_id AS cid, v AS cv FROM p WHERE vec_id % 25 = 0),
        ${oKmeansRounds(2)},
        dropped AS (
          SELECT DISTINCT b.vec_id AS id
          FROM af a JOIN af b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
          WHERE ${oCos("a.v", "b.v")} >= 0.4)
        SELECT vec_id, cluster FROM af WHERE vec_id NOT IN (SELECT id FROM dropped)
      """)),

    // ---- Bloom seen-filter: membership pre-check of the odd-id half of the
    // corpus against a Bloom filter built from the even-id half (m=2048
    // bits, k=3 md5-derived hashes — m sized so the false-positive path
    // actually fires at test scale). maybe && !is rows are the FPs; the
    // oracle rebuilds the identical bit set, so even the FPs hash-match.
    Q(
      "pq38_bloom_seen",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        Dedup.bloomSeenFilter(
          seen = d.filter(col("doc_id") % 2 === 0),
          probe = d.filter(col("doc_id") % 2 === 1),
          keyCol = col("text"), idCol = col("doc_id"), m = 2048, k = 3)
          .withColumnRenamed("id", "doc_id")
      },
      Some(s"""
        WITH seen AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
        probe AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
        ks AS (SELECT unnest(generate_series(0, 2)) AS j),
        bits AS (
          SELECT DISTINCT ${dh("CAST(j AS VARCHAR)||':'||text")} % 2048 AS bit
          FROM seen CROSS JOIN ks),
        seenk AS (SELECT DISTINCT md5(text) AS kh FROM seen),
        pp AS (
          SELECT doc_id, md5(text) AS kh,
                 ${dh("CAST(j AS VARCHAR)||':'||text")} % 2048 AS bit
          FROM probe CROSS JOIN ks),
        agg AS (
          SELECT doc_id, min(kh) AS kh,
                 bool_and(bit IN (SELECT bit FROM bits)) AS maybe_member
          FROM pp GROUP BY 1)
        SELECT doc_id, maybe_member,
               kh IN (SELECT kh FROM seenk) AS is_member
        FROM agg
      """)),

    // ---- cross-doc exact segment dedup, the REMOVAL form of pq18's
    // signal: only the corpus-wide first occurrence of each 16-token
    // segment survives; documents reassemble from their surviving
    // segments. Election is one hash agg + a co-partitioned join on the
    // same hash; reassembly moves each segment once.
    Q(
      "pq41_segment_dedup",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        Dedup.dedupSegments(d, col("doc_id"), col("text"), segTokens = 16)
      },
      Some(s"""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), st AS (
          SELECT doc_id, t,
                 unnest(generate_series(1, greatest(CAST(len(t) AS INT), 1), 16)) AS i
          FROM toks
        ), seg AS (
          SELECT doc_id, CAST((i - 1) // 16 AS INT) AS idx,
                 array_to_string(t[i:i+15], ' ') AS s
          FROM st
        ), m AS (
          SELECT doc_id, idx, s,
                 row_number() OVER (PARTITION BY md5(s)
                                    ORDER BY doc_id, idx) AS rn
          FROM seg
        )
        SELECT doc_id,
               coalesce(string_agg(CASE WHEN rn = 1 THEN s END, ' ' ORDER BY idx),
                        '') AS clean_text,
               CAST(count(*) AS INT) AS n_segments,
               CAST(sum(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS INT) AS n_dropped
        FROM m GROUP BY 1
      """)),

    // ---- winnowing fingerprints (Schleimer et al. 2003): per position,
    // the min of a sliding w=5 window over the doc's 4-token-gram hashes;
    // distinct minima are the fingerprint set. Row-local end to end — the
    // only plan cost is the explode to (doc, fp) rows.
    Q(
      "pq42_winnow_fingerprints",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        d.select(col("doc_id"),
          explode(TextFunctions.winnow_fingerprints(col("text"), n = 4, w = 5))
            .as("fp"))
      },
      Some(s"""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), hs AS (
          SELECT doc_id,
                 list_transform(
                   generate_series(1, greatest(CAST(len(t) AS INT) - 3, 1)),
                   i -> ${dh("array_to_string(t[i:i+3], ' ')")}) AS h
          FROM toks
        )
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                 generate_series(1, greatest(CAST(len(h) AS INT) - 4, 1)),
                 j -> list_min(h[j:j+4])))) AS fp
        FROM hs
      """)),

    // ---- budget-driven mixture sampling: acceptance rates DERIVED from a
    // 200-doc budget and target weights vs each language's census; keep by
    // id hash. One tiny census agg, rates broadcast, selection row-local.
    Q(
      "pq43_budget_mix",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        graft.sampling.Sampling.budgetMixByHash(
            d, col("doc_id"), col("lang"),
            Map("en" -> 400, "zh" -> 150, "de" -> 150, "es" -> 150, "fr" -> 150),
            budget = 200L)
          .select(col("doc_id"), col("lang"), col("rate_pm"), col("sample_bucket"))
      },
      Some(s"""
        WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        r AS (
          SELECT lang,
                 least(1000, CAST(floor(200 * (CASE lang WHEN 'en' THEN 400
                                                         WHEN 'zh' THEN 150
                                                         WHEN 'de' THEN 150
                                                         WHEN 'es' THEN 150
                                                         WHEN 'fr' THEN 150
                                                         ELSE 0 END) / n) AS BIGINT))
                   AS rate_pm
          FROM c
        ), b AS (
          SELECT d.doc_id, d.lang, r.rate_pm,
                 ${dh("CAST(d.doc_id AS VARCHAR)")} % 1000 AS sample_bucket
          FROM documents d JOIN r USING (lang)
        )
        SELECT doc_id, lang, rate_pm, sample_bucket FROM b
        WHERE sample_bucket < rate_pm
      """)),

    // ---- filter-attrition funnel: per language, survivors after each
    // cumulative quality rule (length → distinct ratio → mean word length,
    // all integer cross-multiplication). One partial-agg shuffle to ~5 rows.
    Q(
      "pq44_filter_funnel",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        graft.pipeline.Curation.filterFunnel(
          d, col("text"), col("lang"),
          minTokens = 30, maxTokens = 90, minDistinctPct = 40,
          minMeanWordLen = 4, maxMeanWordLen = 7)
      },
      Some("""
        WITH b AS (
          SELECT lang AS stratum,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
                 CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nd,
                 CAST(length(text) AS BIGINT)
                   - (CAST(len(string_split(text, ' ')) AS BIGINT) - 1) AS chars
          FROM documents
        )
        SELECT stratum, count(*) AS n_docs,
               CAST(sum(CASE WHEN n BETWEEN 30 AND 90 THEN 1 ELSE 0 END) AS BIGINT)
                 AS pass_len,
               CAST(sum(CASE WHEN n BETWEEN 30 AND 90 AND nd * 100 >= n * 40
                             THEN 1 ELSE 0 END) AS BIGINT) AS pass_len_distinct,
               CAST(sum(CASE WHEN n BETWEEN 30 AND 90 AND nd * 100 >= n * 40
                                  AND chars >= n * 4 AND chars <= n * 7
                             THEN 1 ELSE 0 END) AS BIGINT) AS survivors
        FROM b GROUP BY 1
      """)),

    // ---- deterministic epoch shuffle: one salted hash deals every doc a
    // (shard, pos); changing the salt re-deals both. The rank window's key
    // is `shard` — cardinality sized with the corpus, so no reducer ever
    // sees more than one shard's narrow (id, hash) rows.
    Q(
      "pq45_epoch_order",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        graft.pipeline.Export.epochOrder(d, col("doc_id"), nShards = 16,
          epochSalt = 7L)
      },
      Some(s"""
        WITH o AS (
          SELECT doc_id,
                 ${dh("'7:' || CAST(doc_id AS VARCHAR)")} AS order_hash
          FROM documents
        )
        SELECT doc_id, CAST(order_hash % 16 AS INT) AS shard,
               CAST(row_number() OVER (PARTITION BY order_hash % 16
                                       ORDER BY order_hash, doc_id) AS INT) AS pos,
               order_hash
        FROM o
      """)),

    // ---- shard manifest under the same (salt, nShards) deal: the table a
    // trainer's input planner reads. One map-side-combinable agg to
    // nShards rows; only fixed-width partials move.
    Q(
      "pq46_shard_manifest",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        graft.pipeline.Export.shardManifest(d, col("doc_id"), col("text"),
          nShards = 16, epochSalt = 7L)
      },
      Some(s"""
        WITH o AS (
          SELECT doc_id,
                 CAST(${dh("'7:' || CAST(doc_id AS VARCHAR)")} % 16 AS INT) AS shard,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
                 CAST(length(text) AS BIGINT) AS chars
          FROM documents
        )
        SELECT shard, count(*) AS n_docs,
               CAST(sum(toks) AS BIGINT) AS n_tokens,
               CAST(sum(chars) AS BIGINT) AS n_chars,
               min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        FROM o GROUP BY 1
      """)),

    // ---- winnow-based decontamination: probe only the MOSS fingerprints
    // (~1/3 of the n-gram hashes at w=5) instead of every window — the
    // broadcast-set diet that keeps benchmark suites broadcastable, while
    // any shared run of ≥ w+n-1 tokens still collides.
    Q(
      "pq47_decontam_winnow",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        Dedup.winnowContamination(
          d.filter(col("doc_id") % 50 =!= 0), col("doc_id"), col("text"),
          d.filter(col("doc_id") % 50 === 0), col("text"), n = 4, w = 5)
      },
      Some(s"""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), hs AS (
          SELECT doc_id,
                 list_transform(
                   generate_series(1, greatest(CAST(len(t) AS INT) - 3, 1)),
                   i -> ${dh("array_to_string(t[i:i+3], ' ')")}) AS h
          FROM toks
        ), fps AS (
          SELECT doc_id,
                 unnest(list_distinct(list_transform(
                   generate_series(1, greatest(CAST(len(h) AS INT) - 4, 1)),
                   j -> list_min(h[j:j+4])))) AS fp
          FROM hs
        ), bench AS (
          SELECT DISTINCT fp FROM fps WHERE doc_id % 50 = 0
        )
        SELECT f.doc_id, count(*) AS n_shared_fp
        FROM fps f JOIN bench b USING (fp)
        WHERE f.doc_id % 50 <> 0
        GROUP BY 1
      """)),

    // ---- DSIR importance weights: hashed uni+bigram bag, target = three
    // curated sources vs the raw rest; per-feature log-ratios frozen to
    // integers once per bucket (driver residency), so the per-doc sum is
    // partition-order-proof and the corpus text never shuffles.
    Q(
      "pq48_dsir_weights",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        graft.quality.Importance.dsirWeights(
          d, col("doc_id"), col("text"),
          col("source").isin("src0", "src1", "src2"), buckets = 64)
      },
      Some(s"""
        WITH toks AS (
          SELECT doc_id, source IN ('src0','src1','src2') AS is_t,
                 string_split(text, ' ') AS t
          FROM documents
        ), feats AS (
          SELECT doc_id, is_t,
                 unnest(list_transform(generate_series(1, len(t)),
                   i -> ${dh("t[CAST(i AS INT)]")})) % 64 AS b
          FROM toks
          UNION ALL
          SELECT doc_id, is_t,
                 unnest(list_transform(
                   generate_series(1, greatest(CAST(len(t) AS INT) - 1, 1)),
                   i -> ${dh("array_to_string(t[i:i+1], ' ')")})) % 64 AS b
          FROM toks
        ), hist AS (
          SELECT b, sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
                 sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS cr
          FROM feats GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(ct) AS DOUBLE) + 64.0 AS nt,
                 CAST(sum(cr) AS DOUBLE) + 64.0 AS nr
          FROM hist
        ), l AS (
          SELECT b, CAST(floor(1000000.0 *
                   (ln((ct + 1.0) / nt) - ln((cr + 1.0) / nr))) AS BIGINT) AS lfp
          FROM hist, tot
        )
        SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
               CAST(sum(lfp) AS BIGINT) AS w_fp,
               CAST(CAST(sum(lfp) AS BIGINT) AS DOUBLE) / 1000000.0 AS weight
        FROM feats f JOIN l USING (b)
        GROUP BY 1
      """)),

    // ---- unigram-LM perplexity filter: LM fit on the English subset with a
    // df>=2 vocab cutoff (rarer tokens score as one OOV event), every doc
    // scored by mean -ln p(token). Same frozen-integer contract: one log per
    // vocab TYPE, per-doc sums are integer.
    Q(
      "pq49_unigram_nll",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        graft.quality.Importance.unigramNll(
          d, col("doc_id"), col("text"), col("lang") === "en", minCount = 2)
      },
      Some(s"""
        WITH toks AS (
          SELECT doc_id, lang = 'en' AS is_lm,
                 unnest(string_split(text, ' ')) AS tok
          FROM documents
        ), vocab AS (
          SELECT tok, count(*) AS c FROM toks WHERE is_lm
          GROUP BY 1 HAVING count(*) >= 2
        ), tot AS (
          SELECT CAST(coalesce(sum(c), 0) AS DOUBLE)
                 + CAST(count(*) AS DOUBLE) + 1.0 AS denom
          FROM vocab
        ), l AS (
          SELECT tok, CAST(floor(-ln((c + 1.0) / denom) * 1000000.0) AS BIGINT) AS lfp
          FROM vocab, tot
        ), oov AS (
          SELECT CAST(floor(-ln(1.0 / denom) * 1000000.0) AS BIGINT) AS lfp
          FROM tot
        )
        SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(coalesce(l.lfp, o.lfp)) AS BIGINT) AS nll_fp,
               CAST(CAST(sum(coalesce(l.lfp, o.lfp)) AS BIGINT) AS DOUBLE)
                 / count(*) / 1000000.0 AS avg_nll
        FROM toks t LEFT JOIN l USING (tok) CROSS JOIN oov o
        GROUP BY 1
      """)),

    // ---- linear quality classifier (fastText-style trained-model scorer):
    // hashed uni+bigram features scored against a broadcast weight table.
    // The registered model is a deterministic pseudo-random weight per
    // bucket (Knuth multiplicative hash, integer arithmetic both engines
    // reproduce exactly) — the op's contract is scoring ANY weight table;
    // training lives in pq48 (whose DSIR ratio table is itself a linear
    // model in this same bucket space). keep = mean per-feature logit >= 0
    // decided by integer cross-multiplication, never a float.
    Q(
      "pq51_quality_classifier",
      (s, dir) => {
        import s.implicits._
        val d = Tables.documents(s, dir)
        val weights = (0 until 64)
          .map(b => (b, (b.toLong * 2654435761L) % 1000003L - 500000L))
          .toDF("b", "w_fp")
        graft.quality.Importance.linearQualityScore(
          d, col("doc_id"), col("text"), weights, buckets = 64)
      },
      Some(s"""
        WITH w AS (
          SELECT CAST(b AS INT) AS b,
                 (CAST(b AS BIGINT) * 2654435761) % 1000003 - 500000 AS w_fp
          FROM (SELECT unnest(generate_series(0, 63)) AS b)
        ), toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), feats AS (
          SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(t)),
                   i -> ${dh("t[CAST(i AS INT)]")})) % 64 AS b
          FROM toks
          UNION ALL
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(1, greatest(CAST(len(t) AS INT) - 1, 1)),
                   i -> ${dh("array_to_string(t[i:i+1], ' ')")})) % 64 AS b
          FROM toks
        )
        SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
               CAST(sum(w.w_fp) AS BIGINT) AS sum_fp,
               CAST(sum(w.w_fp) AS BIGINT) AS logit_fp,
               CAST(CAST(sum(w.w_fp) AS BIGINT) AS DOUBLE)
                 / count(*) / 1000000.0 AS score,
               CAST(sum(w.w_fp) AS BIGINT) >= 0 AS keep
        FROM feats f JOIN w USING (b)
        GROUP BY 1
      """)),

    // ---- temperature (α=0.5) mixing: per-language rates derived from the
    // corpus census itself — resulting share ∝ sqrt(n_lang), the standard
    // multilingual rebalancing. ⌊√n⌋ then pure 64-bit integer arithmetic
    // (two-step floor is the defined semantics, replicated verbatim here),
    // so the rates hash-compare as integers.
    Q(
      "pq52_temperature_mix",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        graft.sampling.Sampling.temperatureMixByHash(
            d, col("doc_id"), col("lang"), alpha = "sqrt", budget = 150L)
          .select(col("doc_id"), col("lang"), col("rate_pm"), col("sample_bucket"))
      },
      Some("""
        WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        w AS (SELECT lang, n,
                     CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS w
              FROM c),
        tot AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM w),
        r AS (SELECT lang,
                     least(CAST(1000 AS BIGINT),
                           (1000 * ((150 * w) // sw)) // n) AS rate_pm
              FROM w, tot),
        b AS (SELECT d.doc_id, d.lang, r.rate_pm,
                     CAST(('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)),1,15)) AS BIGINT) % 1000
                       AS sample_bucket
              FROM documents d JOIN r USING (lang))
        SELECT doc_id, lang, rate_pm, sample_bucket FROM b
        WHERE sample_bucket < rate_pm
      """)),

    // ---- BM25 top-k retrieval: one stats scan to a single row (driver
    // residency = a Long per distinct term), one row-local scoring scan into
    // bounded-heap top-k — no inverted index, no posting shuffle, text never
    // moves. Per-(doc,term) components frozen to floor(1e6·idf·w) integers,
    // so partition order cannot change a score; the oracle replicates the
    // exact association order of every IEEE op (see Bm25.scala).
    Q(
      "pq53_bm25_topk",
      (s, dir) => {
        val d = Tables.spreadForRowWork(Tables.documents(s, dir)) // input spread
        graft.retrieval.Bm25.bm25TopK(
          d, col("doc_id"), col("text"),
          Seq(
            1L -> Seq("hash", "join"),
            2L -> Seq("window", "agg", "scan"),
            3L -> Seq("customer", "order")),
          k = 10)
      },
      Some(oBm25TopKSql)),

    // ---- hard-negative mining (contrastive training data): per anchor, the
    // top-k most similar DIFFERENT-label vectors. pq08's plan with the label
    // inequality folded into the broadcast join condition — same-label rows
    // die before anything shuffles.
    Q(
      "pq54_hard_negatives",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val anchors = e.filter(col("vec_id") % 50 === 0)
        Knn.hardNegativesTopK(e, anchors, "vec_id", "embedding", "label", k = 5)
      },
      Some("""
        WITH q AS (SELECT vec_id AS query_id, label AS ql, embedding AS qv
                   FROM embeddings WHERE vec_id % 50 = 0),
        c AS (SELECT vec_id AS nbr_id, label AS nl, embedding AS nv FROM embeddings),
        s AS (
          SELECT query_id, nbr_id,
            round(
              list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(generate_series(1, len(qv)), i -> CAST(qv[CAST(i AS INT)] AS DOUBLE) * CAST(nv[CAST(i AS INT)] AS DOUBLE))), (acc, x) -> acc + x)
              / (sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(generate_series(1, len(qv)), i -> CAST(qv[CAST(i AS INT)] AS DOUBLE) * CAST(qv[CAST(i AS INT)] AS DOUBLE))), (acc, x) -> acc + x))
               * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(generate_series(1, len(nv)), i -> CAST(nv[CAST(i AS INT)] AS DOUBLE) * CAST(nv[CAST(i AS INT)] AS DOUBLE))), (acc, x) -> acc + x))), 4) AS cos_r
          FROM c CROSS JOIN q WHERE query_id <> nbr_id AND ql <> nl)
        SELECT query_id, rank, nbr_id, cos_r FROM (
          SELECT query_id, nbr_id, cos_r,
                 row_number() OVER (PARTITION BY query_id ORDER BY cos_r DESC, nbr_id ASC) AS rank
          FROM s
        ) WHERE rank <= 5
      """)),

    // ---- per-source document cap (RefinedWeb-style domain cap): within
    // each source keep the top-20 docs by quality score. Bounded-heap
    // top_k_by per source — the only exchange carries one 20-slot buffer per
    // source, never the documents (no window sort of a hot domain).
    Q(
      "pq55_source_cap",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        graft.pipeline.Curation.perSourceCap(
          d, col("doc_id"), col("source"),
          TextFunctions.quality_score(col("text")), cap = 20)
      },
      Some(s"""
        WITH t AS (SELECT doc_id, source, text, string_split(text, ' ') AS toks FROM documents),
        sc AS (
          SELECT doc_id, source,
            $oQualityScore AS score
          FROM t),
        r AS (
          SELECT source, doc_id, score,
                 row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id ASC) AS rank,
                 count(*) OVER (PARTITION BY source) AS n_total
          FROM sc)
        SELECT source, CAST(rank AS INT) AS rank, doc_id, score, n_total
        FROM r WHERE rank <= 20
      """)),

    // ---- source-pair vocabulary overlap (provenance/governance report):
    // which feeds re-crawl each other. Distinct (source, token) shuffle,
    // per-token source sets (bounded by |sources|), row-local i<j pair
    // explosion, integer-exact Jaccard.
    Q(
      "pq56_source_overlap",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val toks = d.select(col("source"),
          explode(array_distinct(split(col("text"), " "))).as("tok"))
        graft.pipeline.Curation.overlapMatrix(toks, col("source"), col("tok"))
      },
      Some("""
        WITH ts AS (
          SELECT DISTINCT src, t FROM (
            SELECT source AS src, unnest(string_split(text, ' ')) AS t
            FROM documents)),
        sz AS (SELECT src, count(*) AS n FROM ts GROUP BY 1),
        sh AS (
          SELECT a.src AS src_a, b.src AS src_b, count(*) AS n_shared
          FROM ts a JOIN ts b ON a.t = b.t AND a.src < b.src
          GROUP BY 1, 2)
        SELECT src_a, src_b, n_shared, sa.n AS n_a, sb.n AS n_b,
               (1000 * n_shared) // (sa.n + sb.n - n_shared) AS jaccard_pm
        FROM sh JOIN sz sa ON sh.src_a = sa.src JOIN sz sb ON sh.src_b = sb.src
      """)),

    // ---- calibrated quality gate: keep the top 70% by quality score with
    // the threshold derived FROM the corpus (discrete quantile — an actual
    // score value, so the >= gate compares identically-computed doubles and
    // cannot knife-edge between engines). Score-histogram shuffle + bounded
    // cumulative window over distinct scores; threshold broadcast back.
    Q(
      "pq57_calibrated_quality",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val scored = d.select(col("doc_id"), col("lang"),
          TextFunctions.quality_score(col("text")).as("score"))
        graft.quality.Calibrate.calibratedFilter(scored, col("score"), keepFrac = 0.7)
          .select(col("doc_id"), col("lang"), col("score"), col("thr"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents),
        sc AS (
          SELECT doc_id, lang,
            $oQualityScore AS score
          FROM t),
        cs AS (SELECT score, count(*) AS c FROM sc GROUP BY 1),
        cum AS (SELECT score, c, sum(c) OVER (ORDER BY score) - c AS below FROM cs),
        tot AS (SELECT count(*) AS n FROM sc),
        thr AS (
          SELECT score AS thr FROM cum, tot
          WHERE below <= CAST(floor((1.0 - 0.7) * n) AS BIGINT)
            AND CAST(floor((1.0 - 0.7) * n) AS BIGINT) < below + c)
        SELECT doc_id, lang, score, thr FROM sc, thr WHERE score >= thr
      """)),

    // ---- corpus snapshot diff (incremental ingestion CDC): old vs new
    // version → added/removed/changed/unchanged per doc. One co-partitioned
    // full-outer join on id; 128-bit hashes stand in for text. The synthetic
    // "new" snapshot drops ids %10 (removed), edits ids %7 (changed), and
    // ships ids %13 under fresh ids (added).
    Q(
      "pq58_snapshot_diff",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val oldSnap = d.select(col("doc_id"), col("text"))
        val newSnap = d.filter(col("doc_id") % 10 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
          .unionByName(d.filter(col("doc_id") % 13 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        graft.pipeline.Snapshots.diff(oldSnap, newSnap, col("doc_id"), col("text"))
      },
      Some("""
        WITH olds AS (SELECT doc_id, md5(text) AS h FROM documents),
        news AS (
          SELECT doc_id,
                 md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS h
          FROM documents WHERE doc_id % 10 <> 0
          UNION ALL
          SELECT doc_id + 1000000, md5(text) FROM documents WHERE doc_id % 13 = 0),
        j AS (
          SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, o.h AS oh, n.h AS nh
          FROM olds o FULL OUTER JOIN news n ON o.doc_id = n.doc_id)
        SELECT doc_id,
               CASE WHEN oh IS NULL THEN 'added'
                    WHEN nh IS NULL THEN 'removed'
                    WHEN oh <> nh THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM j
      """)),

    // ---- Zipf fit over the top-30 terms: the corpus-health slope reviewers
    // watch across snapshot versions. Token-count shuffle →
    // TakeOrderedAndProject top-N → 6-dp-rounded lns summed in exact
    // DECIMAL; the only doubles are the final divisions, association-order
    // mirrored in the oracle.
    Q(
      "pq59_zipf_fit",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        graft.quality.CorpusStats.zipfFit(d, col("text"), topN = 30)
      },
      Some("""
        WITH c AS (
          SELECT t, count(*) AS c FROM (
            SELECT unnest(string_split(text, ' ')) AS t FROM documents)
          GROUP BY 1),
        top AS (SELECT t, c FROM c ORDER BY c DESC, t ASC LIMIT 30),
        r AS (SELECT c, row_number() OVER (ORDER BY c DESC, t ASC) AS rank FROM top),
        v AS (SELECT CAST(round(ln(rank), 6) AS DECIMAL(12,6)) AS x,
                     CAST(round(ln(c), 6) AS DECIMAL(12,6)) AS y FROM r),
        s AS (SELECT count(*) AS n,
                     CAST(sum(x) AS DECIMAL(14,6)) AS sx,
                     CAST(sum(y) AS DECIMAL(14,6)) AS sy,
                     CAST(sum(x*y) AS DECIMAL(20,12)) AS sxy,
                     CAST(sum(x*x) AS DECIMAL(20,12)) AS sxx
              FROM v)
        SELECT CAST(n AS BIGINT) AS n_terms,
          round(-(CAST(CAST(n AS DECIMAL(4,0)) * sxy - sx * sy AS DOUBLE)
                  / CAST(CAST(n AS DECIMAL(4,0)) * sxx - sx * sx AS DOUBLE)), 6) AS alpha,
          round((CAST(sy AS DOUBLE)
                 - (CAST(CAST(n AS DECIMAL(4,0)) * sxy - sx * sy AS DOUBLE)
                    / CAST(CAST(n AS DECIMAL(4,0)) * sxx - sx * sx AS DOUBLE))
                   * CAST(sx AS DOUBLE))
                / CAST(n AS DOUBLE), 6) AS intercept
        FROM s
      """)),

    // ---- the flagship composition, hash-checked END TO END: canonical
    // dedup → calibrated quality gate (keep 80%) → per-source cap (15) →
    // sqrt-temperature mix (budget 120). Every stage is the already-audited
    // library operator; the oracle chains the four stage oracles as CTEs.
    Q(
      "pq60_training_mix",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        graft.pipeline.Curation.curateTrainingMix(
          d, col("doc_id"), col("text"), col("source"), col("lang"),
          keepFrac = 0.8, cap = 15, alpha = "sqrt", budget = 120L)
      },
      Some(s"""
        WITH canon AS (
          SELECT doc_id, source, lang AS stratum, text,
                 md5(CASE WHEN trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) = '' THEN lower(text) ELSE trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) END) AS ch
          FROM documents),
        keep AS (
          SELECT c.doc_id, c.source, c.stratum, c.text
          FROM canon c JOIN (SELECT ch, min(doc_id) AS doc_id FROM canon GROUP BY 1) k
            ON c.ch = k.ch AND c.doc_id = k.doc_id),
        sc AS (
          SELECT doc_id, source, stratum, $oQualityScore AS score
          FROM (SELECT doc_id, source, stratum, text, string_split(text, ' ') AS toks FROM keep)),
        cs AS (SELECT score, count(*) AS c FROM sc GROUP BY 1),
        cum AS (SELECT score, c, sum(c) OVER (ORDER BY score) - c AS below FROM cs),
        tot AS (SELECT count(*) AS n FROM sc),
        thr AS (
          SELECT score AS thr FROM cum, tot
          WHERE below <= CAST(floor((1.0 - 0.8) * n) AS BIGINT)
            AND CAST(floor((1.0 - 0.8) * n) AS BIGINT) < below + c),
        gated AS (SELECT sc.* FROM sc, thr WHERE score >= thr),
        capped AS (
          SELECT source, doc_id, stratum, score, rank FROM (
            SELECT source, doc_id, stratum, score,
                   row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id ASC) AS rank
            FROM gated) WHERE rank <= 15),
        cen AS (SELECT stratum, count(*) AS n FROM capped GROUP BY 1),
        w AS (SELECT stratum, n, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS w FROM cen),
        sw AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM w),
        r AS (SELECT stratum,
                     least(CAST(1000 AS BIGINT), (1000 * ((120 * w) // sw)) // n) AS rate_pm
              FROM w, sw),
        b AS (SELECT c.doc_id, c.source, c.stratum, CAST(c.rank AS INT) AS rank, c.score,
                     r.rate_pm,
                     CAST(('0x'||substr(md5(CAST(c.doc_id AS VARCHAR)),1,15)) AS BIGINT) % 1000
                       AS sample_bucket
              FROM capped c JOIN r USING (stratum))
        SELECT doc_id, source, stratum, rank, score, rate_pm, sample_bucket
        FROM b WHERE sample_bucket < rate_pm
      """)),

    // ---- label-balanced resampling: deterministic replication to the
    // majority-class size (round-half-up integer copies, copy index in the
    // output row — no RNG, no with-replacement draws). The input is
    // pre-skewed (labels 0-4 keep only vec_id%7=0) so the balancing bites
    // hard: minority labels replicate ~7-8x.
    Q(
      "pq61_label_balance",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
          .filter(col("label") >= 5 || col("vec_id") % 7 === 0)
        graft.sampling.Sampling.balanceByReplication(e, col("vec_id"), col("label"))
      },
      Some("""
        WITH base AS (
          SELECT vec_id, label FROM embeddings WHERE label >= 5 OR vec_id % 7 = 0),
        c AS (SELECT label, count(*) AS n FROM base GROUP BY 1),
        t AS (SELECT max(n) AS t FROM c),
        r AS (SELECT label, n, (2 * t + n) // (2 * n) AS k FROM c, t)
        SELECT b.vec_id AS id, b.label, r.n AS n_orig, r.k AS n_copies,
               CAST(unnest(generate_series(1, r.k)) AS BIGINT) AS copy
        FROM base b JOIN r USING (label)
      """)),

    // ---- ColBERT-style late-interaction retrieval (MaxSim): documents as
    // BAGS of vectors — embeddings grouped 10-per-doc stand in for token/
    // frame vectors. Per-query-vector maxes frozen to floor(1e6·cos) before
    // the integer sum, so the score is partition-order-proof. Production
    // passes ANN candidates to bound the pair space (PLAID); the full cross
    // here is what makes the oracle exact.
    Q(
      "pq62_maxsim_topk",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val fr = e.select((col("vec_id") / 10).cast("long").as("doc_id"),
          (col("vec_id") % 10).as("frame_id"), col("embedding").as("vec"))
        val qf = fr.filter(col("doc_id") % 20 === 0)
        graft.retrieval.LateInteraction.maxSimTopK(
          fr, qf, "doc_id", "frame_id", "vec", k = 5)
      },
      Some(s"""
        WITH fr AS (
          SELECT vec_id // 10 AS doc_id, vec_id % 10 AS frame_id, embedding AS v
          FROM embeddings),
        q AS (SELECT doc_id AS query_id, frame_id AS qf, v AS qv
              FROM fr WHERE doc_id % 20 = 0),
        c AS (SELECT doc_id AS nbr_id, v AS cv FROM fr),
        m AS (
          SELECT query_id, nbr_id, qf,
                 CAST(floor(1000000.0 * max(${oCos("qv", "cv")})) AS BIGINT) AS m_fp
          FROM c JOIN q ON query_id <> nbr_id
          GROUP BY 1, 2, 3),
        sc AS (SELECT query_id, nbr_id, CAST(sum(m_fp) AS BIGINT) AS maxsim_fp
               FROM m GROUP BY 1, 2)
        SELECT query_id, CAST(rank AS INT) AS rank, nbr_id, maxsim_fp,
               CAST(maxsim_fp AS DOUBLE) / 1000000.0 AS maxsim
        FROM (SELECT query_id, nbr_id, maxsim_fp,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY maxsim_fp DESC, nbr_id ASC) AS rank
              FROM sc)
        WHERE rank <= 5
      """)),

    // ---- term-distribution drift (both-direction smoothed KL) between the
    // even- and odd-numbered sources — the data-drift alarm for a feed that
    // silently changes. Per-term logs frozen to 6 dp and summed against
    // integer counts in exact DECIMAL; only the final division and one
    // global log run in doubles, association-order mirrored.
    Q(
      "pq63_term_drift",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val srcNum = substring(col("source"), 4, 10).cast("int")
        graft.quality.CorpusStats.termDriftKl(
          d.filter(srcNum % 2 === 0), d.filter(srcNum % 2 === 1), col("text"))
      },
      Some("""
        WITH ref AS (SELECT text FROM documents WHERE CAST(substr(source, 4) AS INT) % 2 = 0),
        cur AS (SELECT text FROM documents WHERE CAST(substr(source, 4) AS INT) % 2 = 1),
        ca AS (SELECT t, count(*) AS a FROM (SELECT unnest(string_split(text, ' ')) AS t FROM ref) GROUP BY 1),
        cb AS (SELECT t, count(*) AS b FROM (SELECT unnest(string_split(text, ' ')) AS t FROM cur) GROUP BY 1),
        j AS (
          SELECT coalesce(ca.a, 0) AS a, coalesce(cb.b, 0) AS b,
                 CAST(round(ln(CAST(coalesce(ca.a, 0) + 1 AS DOUBLE)
                             / CAST(coalesce(cb.b, 0) + 1 AS DOUBLE)), 6) AS DECIMAL(12,6)) AS l
          FROM ca FULL OUTER JOIN cb ON ca.t = cb.t),
        s AS (
          SELECT count(*) AS n_terms, CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb,
                 sum(CAST(a + 1 AS DECIMAL(20,0)) * l) AS s_ab,
                 sum(CAST(b + 1 AS DECIMAL(20,0)) * (CAST(0 AS DECIMAL(12,6)) - l)) AS s_ba
          FROM j)
        SELECT n_terms, na AS n_ref_tokens, nb AS n_cur_tokens,
               round(CAST(s_ab AS DOUBLE) / CAST(na + n_terms AS DOUBLE)
                     + ln(CAST(nb + n_terms AS DOUBLE) / CAST(na + n_terms AS DOUBLE)), 6) AS kl_ref_cur,
               round(CAST(s_ba AS DOUBLE) / CAST(nb + n_terms AS DOUBLE)
                     + ln(CAST(na + n_terms AS DOUBLE) / CAST(nb + n_terms AS DOUBLE)), 6) AS kl_cur_ref
        FROM s
      """)),

    // ---- INCREMENTAL curation: version-1 corpus (doc_id%11==3 absent →
    // "added" in v2; doc_id%9==0 carries older text → "changed"; extra
    // %13==5 rows → "removed") is scored into the persistable artifact,
    // then v2 is scored INCREMENTALLY against it (scorer runs only where
    // the content hash moved) and mixed. The oracle is the FROM-SCRATCH
    // pipeline on v2 — the whole point: incremental must be row-identical
    // to recomputing the world, or it is drift, not optimization.
    Q(
      "pq64_incremental_mix",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val v1 = d.filter(col("doc_id") % 11 =!= 3)
          .select(col("doc_id"), col("source"), col("lang"),
            when(col("doc_id") % 9 === 0, concat(col("text"), lit(" v1")))
              .otherwise(col("text")).as("text"))
          .unionByName(d.filter(col("doc_id") % 13 === 5)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("source"),
              col("lang"), col("text")))
        val prev = graft.pipeline.Curation.scoreCorpus(
          v1, col("doc_id"), col("text"), col("source"), col("lang"))
        val inc = graft.pipeline.Curation.scoreIncremental(
          prev, d, col("doc_id"), col("text"), col("source"), col("lang"))
        graft.pipeline.Curation.mixFromScored(
          inc, keepFrac = 0.75, cap = 12, alpha = "prop", budget = 100L)
      },
      Some(s"""
        WITH canon AS (
          SELECT doc_id, source, lang AS stratum, text,
                 md5(CASE WHEN trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) = '' THEN lower(text) ELSE trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) END) AS ch
          FROM documents),
        keep AS (
          SELECT c.doc_id, c.source, c.stratum, c.text
          FROM canon c JOIN (SELECT ch, min(doc_id) AS doc_id FROM canon GROUP BY 1) k
            ON c.ch = k.ch AND c.doc_id = k.doc_id),
        sc AS (
          SELECT doc_id, source, stratum, $oQualityScore AS score
          FROM (SELECT doc_id, source, stratum, text, string_split(text, ' ') AS toks FROM keep)),
        cs AS (SELECT score, count(*) AS c FROM sc GROUP BY 1),
        cum AS (SELECT score, c, sum(c) OVER (ORDER BY score) - c AS below FROM cs),
        tot AS (SELECT count(*) AS n FROM sc),
        thr AS (
          SELECT score AS thr FROM cum, tot
          WHERE below <= CAST(floor((1.0 - 0.75) * n) AS BIGINT)
            AND CAST(floor((1.0 - 0.75) * n) AS BIGINT) < below + c),
        gated AS (SELECT sc.* FROM sc, thr WHERE score >= thr),
        capped AS (
          SELECT source, doc_id, stratum, score, rank FROM (
            SELECT source, doc_id, stratum, score,
                   row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id ASC) AS rank
            FROM gated) WHERE rank <= 12),
        cen AS (SELECT stratum, count(*) AS n FROM capped GROUP BY 1),
        w AS (SELECT stratum, n, n AS w FROM cen),
        sw AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM w),
        r AS (SELECT stratum,
                     least(CAST(1000 AS BIGINT), (1000 * ((100 * w) // sw)) // n) AS rate_pm
              FROM w, sw),
        b AS (SELECT c.doc_id, c.source, c.stratum, CAST(c.rank AS INT) AS rank, c.score,
                     r.rate_pm,
                     CAST(('0x'||substr(md5(CAST(c.doc_id AS VARCHAR)),1,15)) AS BIGINT) % 1000
                       AS sample_bucket
              FROM capped c JOIN r USING (stratum))
        SELECT doc_id, source, stratum, rank, score, rate_pm, sample_bucket
        FROM b WHERE sample_bucket < rate_pm
      """)),

    // ---- product quantization ADC top-k (Jégou et al. 2011): 64-dim
    // vectors → 8 one-byte codes (32× compression), queries scored against
    // CODES ONLY through per-query dot tables frozen to floor(1e6·⟨q_s,c⟩)
    // BEFORE the per-doc sum — every score an exact integer. The codebook
    // is the pq51-style deterministic synthetic model (the oracle
    // regenerates it in SQL); TRAINED codebooks are proven by recall /
    // equivalence specs, like pq39's trained k-means.
    Q(
      "pq65_pq_adc",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val cb = graft.similarity.Pq.syntheticCodebooks(m = 8, k = 16, w = 8)
        graft.similarity.Pq.adcTopK(
          e, e.filter(col("vec_id") % 25 === 0), "vec_id", "embedding", cb, k = 10)
      },
      Some(s"""
        WITH dims AS (SELECT unnest(generate_series(0, 7)) AS dim),
        subs AS (SELECT unnest(generate_series(0, 7)) AS s),
        codes AS (SELECT unnest(generate_series(0, 15)) AS c),
        cb AS (
          SELECT s, c,
                 list(CAST((c*31 + dim*17 + s*7) % 13 - 6 AS DOUBLE) / 6.0 ORDER BY dim) AS cv
          FROM subs CROSS JOIN codes CROSS JOIN dims
          GROUP BY 1, 2),
        p AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
        sv AS (SELECT vec_id, s, list_slice(v, s*8 + 1, s*8 + 8) AS sv
               FROM p CROSS JOIN subs),
        enc AS (
          SELECT vec_id, s, c AS code FROM (
            SELECT sv.vec_id, sv.s, cb.c,
                   row_number() OVER (PARTITION BY sv.vec_id, sv.s
                     ORDER BY (${oDot("sv", "sv")} - 2.0 * ${oDot("sv", "cv2")} + ${oDot("cv2", "cv2")}) ASC,
                              cb.c ASC) AS rn
            FROM sv JOIN (SELECT s, c, cv AS cv2 FROM cb) cb USING (s)) WHERE rn = 1),
        qt AS (
          SELECT q.vec_id AS query_id, cb.s, cb.c,
                 CAST(floor(1000000.0 * ${oDot("qs", "cv")}) AS BIGINT) AS t
          FROM (SELECT vec_id, s, sv AS qs FROM sv WHERE vec_id % 25 = 0) q
          JOIN cb USING (s)),
        sc AS (
          SELECT qt.query_id, e.vec_id AS nbr_id, CAST(sum(qt.t) AS BIGINT) AS score_fp
          FROM enc e JOIN qt ON qt.s = e.s AND qt.c = e.code AND qt.query_id <> e.vec_id
          GROUP BY 1, 2)
        SELECT query_id, CAST(rank AS INT) AS rank, nbr_id, score_fp FROM (
          SELECT query_id, nbr_id, score_fp,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY score_fp DESC, nbr_id ASC) AS rank
          FROM sc) WHERE rank <= 10
      """)),

    // ---- IVF-PQ (FAISS `IVFx,PQy` layout): coarse nlist/nprobe pruning
    // over the PQ code table — each query ADC-scores only its 8/32 probed
    // lists' codes. Fully hash-checked: the oracle splices the pq14 coarse
    // tier (oIvfCoarse — deterministic centroids, smallest-cid argmax ties)
    // onto pq65's codebook/encode/dot-table CTEs, so coarse pruning AND the
    // frozen-integer ADC scores replay exactly. PqSpec keeps the
    // nprobe=nlist ≡ plain-ADC equivalence and the recall floor.
    Q(
      "pq66_knn_ivfpq",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val cb = graft.similarity.Pq.syntheticCodebooks(m = 8, k = 16, w = 8)
        graft.similarity.Pq.ivfAdcTopK(
          e, e.filter(col("vec_id") % 25 === 0), "vec_id", "embedding", cb,
          k = 10, nlist = 32, nprobe = 8)
      },
      Some(s"""
        WITH p AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        ${oIvfCoarse(nlist = 32, nprobe = 8, queryPred = "p.vec_id % 25 = 0")},
        dims AS (SELECT unnest(generate_series(0, 7)) AS dim),
        subs AS (SELECT unnest(generate_series(0, 7)) AS s),
        codes AS (SELECT unnest(generate_series(0, 15)) AS c),
        cb AS (
          SELECT s, c,
                 list(CAST((c*31 + dim*17 + s*7) % 13 - 6 AS DOUBLE) / 6.0 ORDER BY dim) AS cv
          FROM subs CROSS JOIN codes CROSS JOIN dims
          GROUP BY 1, 2),
        sv AS (SELECT vec_id, s, list_slice(v, s*8 + 1, s*8 + 8) AS sv
               FROM p CROSS JOIN subs),
        enc AS (
          SELECT vec_id, s, c AS code FROM (
            SELECT sv.vec_id, sv.s, cb.c,
                   row_number() OVER (PARTITION BY sv.vec_id, sv.s
                     ORDER BY (${oDot("sv", "sv")} - 2.0 * ${oDot("sv", "cv2")} + ${oDot("cv2", "cv2")}) ASC,
                              cb.c ASC) AS rn
            FROM sv JOIN (SELECT s, c, cv AS cv2 FROM cb) cb USING (s)) WHERE rn = 1),
        qt AS (
          SELECT q.vec_id AS query_id, cb.s, cb.c,
                 CAST(floor(1000000.0 * ${oDot("qs", "cv")}) AS BIGINT) AS t
          FROM (SELECT vec_id, s, sv AS qs FROM sv WHERE vec_id % 25 = 0) q
          JOIN cb USING (s)),
        sc AS (
          SELECT q.query_id, a.nbr_id, CAST(sum(qt.t) AS BIGINT) AS score_fp
          FROM asg a JOIN qp q ON q.cid = a.cid AND q.query_id <> a.nbr_id
          JOIN enc e ON e.vec_id = a.nbr_id
          JOIN qt ON qt.query_id = q.query_id AND qt.s = e.s AND qt.c = e.code
          GROUP BY 1, 2)
        SELECT query_id, CAST(rank AS INT) AS rank, nbr_id, score_fp FROM (
          SELECT query_id, nbr_id, score_fp,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY score_fp DESC, nbr_id ASC) AS rank
          FROM sc) WHERE rank <= 10
      """)),

    // ---- perceptual frame fingerprints for multimodal assets: 60-bit
    // block-hash per container frame (bit j = parity of region j's content
    // hash, Horner-folded — codec-free stand-in for a pixel pHash with the
    // same locality property: a localized payload edit flips only the
    // touched regions' bits). Near-dup pairing rides the SAME banded-
    // Hamming machinery as text simhash (MediaDedupSpec).
    Q(
      "pq67_media_fingerprints",
      (s, dir) => {
        val d = Tables.documents(s, dir)
          .withColumn("payload", col("text").cast("binary"))
        graft.multimodal.MediaDedup.frameFingerprints(
          Multimodal.toAssets(d, "doc_id", "payload", "text/fake"))
      },
      Some("""
        WITH f AS (SELECT doc_id AS asset_id, text,
                          length(text) // 256 + 1 AS nf FROM documents),
        fr AS (SELECT asset_id, text,
                      unnest(generate_series(CAST(0 AS BIGINT), nf - 1)) AS frame
               FROM f),
        fs AS (SELECT asset_id, frame,
                      substr(text, CAST(frame * 256 + 1 AS BIGINT), 256) AS fs
               FROM fr)
        SELECT asset_id, frame,
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(generate_series(0, 59), j ->
                     CAST(('0x'||substr(md5(CAST(j AS VARCHAR) || ':' ||
                       substr(fs, j*4 + 1, 4)), 1, 15)) AS BIGINT) % 2)),
                 (acc, x) -> acc * 2 + x) AS fp
        FROM fs
      """)),

    // ---- real BPE subword counts (the greedy merge loop, not the regex
    // approximation) under a fixed merge table — the counts token budgets
    // and packing consume. No SQL form for the loop (a merge can create an
    // earlier-rank pair, so no bounded unrolling exists) ⇒ rows-only like
    // pq14/pq35/pq66; BpeSpec pins the encoder bit-for-bit against an
    // independent reference implementation.
    Q(
      "pq68_bpe_tokens",
      (s, dir) => {
        val d = Tables.spreadForRowWork(Tables.documents(s, dir)) // input spread
        val merges = Seq(
          "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "an" -> "d",
          "e" -> "r", "o" -> "n", "r" -> "e", "in" -> "g", "a" -> "t",
          "e" -> "s", "o" -> "u", "s" -> "t", "e" -> "n", "o" -> "r")
        graft.functions.Bpe.tokenStats(d, col("doc_id"), col("text"), merges)
      },
      None),

    // ---- key-skew report: the pre-shuffle advisor — per hottest key its
    // corpus share and the salt factor that would level it onto the
    // average partition load (feed the max into SkewJoins.saltedJoin).
    // One partial-agg shuffle + TakeOrdered; all integer, hash-exact.
    Q(
      "pq69_key_skew",
      (s, dir) => {
        val e = Tables.events(s, dir)
        graft.operators.SkewJoins.keySkewReport(
          e, col("user_id"), partitions = 32, topK = 20)
      },
      Some("""
        WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS n
                   FROM events GROUP BY 1),
        t AS (SELECT sum(n) AS total FROM c)
        SELECT key, n,
               CAST(floor(1000000 * n / total) AS BIGINT) AS share_ppm,
               CAST(ceil(n * 32 / total) AS BIGINT) AS salt
        FROM c, t ORDER BY n DESC, key ASC LIMIT 20
      """)),

    // ---- retrieval-quality eval (the public Eval API as a query): where
    // does each query's TRUE cosine top-1 land in the PQ ADC top-10?
    // rank_found = 0 = missed. Integer per-query artifact behind MRR —
    // hash-exact where the float summary could not be.
    Q(
      "pq70_rank_eval",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val queries = e.filter(col("vec_id") % 25 === 0)
        val cb = graft.similarity.Pq.syntheticCodebooks(m = 8, k = 16, w = 8)
        val approx = graft.similarity.Pq.adcTopK(
          e, queries, "vec_id", "embedding", cb, k = 10)
        val exactTop1 = graft.similarity.Knn.bruteForceTopK(
            e, queries, "vec_id", "embedding", k = 1)
          .select(col("query_id"), col("nbr_id"))
        graft.similarity.Eval.rankOfTruth(approx, exactTop1)
      },
      Some(s"""
        WITH dims AS (SELECT unnest(generate_series(0, 7)) AS dim),
        subs AS (SELECT unnest(generate_series(0, 7)) AS s),
        codes AS (SELECT unnest(generate_series(0, 15)) AS c),
        cb AS (
          SELECT s, c,
                 list(CAST((c*31 + dim*17 + s*7) % 13 - 6 AS DOUBLE) / 6.0 ORDER BY dim) AS cv
          FROM subs CROSS JOIN codes CROSS JOIN dims
          GROUP BY 1, 2),
        p AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
        sv AS (SELECT vec_id, s, list_slice(v, s*8 + 1, s*8 + 8) AS sv
               FROM p CROSS JOIN subs),
        enc AS (
          SELECT vec_id, s, c AS code FROM (
            SELECT sv.vec_id, sv.s, cb.c,
                   row_number() OVER (PARTITION BY sv.vec_id, sv.s
                     ORDER BY (${oDot("sv", "sv")} - 2.0 * ${oDot("sv", "cv2")} + ${oDot("cv2", "cv2")}) ASC,
                              cb.c ASC) AS rn
            FROM sv JOIN (SELECT s, c, cv AS cv2 FROM cb) cb USING (s)) WHERE rn = 1),
        qt AS (
          SELECT q.vec_id AS query_id, cb.s, cb.c,
                 CAST(floor(1000000.0 * ${oDot("qs", "cv")}) AS BIGINT) AS t
          FROM (SELECT vec_id, s, sv AS qs FROM sv WHERE vec_id % 25 = 0) q
          JOIN cb USING (s)),
        sc AS (
          SELECT qt.query_id, e.vec_id AS nbr_id, CAST(sum(qt.t) AS BIGINT) AS score_fp
          FROM enc e JOIN qt ON qt.s = e.s AND qt.c = e.code AND qt.query_id <> e.vec_id
          GROUP BY 1, 2),
        adc AS (
          SELECT query_id, nbr_id, CAST(rank AS INT) AS rank FROM (
            SELECT query_id, nbr_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY score_fp DESC, nbr_id ASC) AS rank
            FROM sc) WHERE rank <= 10),
        q AS (SELECT vec_id AS query_id, v AS qv FROM p WHERE vec_id % 25 = 0),
        ex AS (
          SELECT query_id, nbr_id FROM (
            SELECT q.query_id, c.vec_id AS nbr_id,
                   row_number() OVER (PARTITION BY q.query_id
                     ORDER BY round(${oCos("qv", "cv3")}, 4) DESC, c.vec_id ASC) AS rn
            FROM q JOIN (SELECT vec_id, v AS cv3 FROM p) c ON c.vec_id <> q.query_id)
          WHERE rn = 1)
        SELECT ex.query_id, ex.nbr_id AS true_top1,
               CAST(coalesce(adc.rank, 0) AS INT) AS rank_found
        FROM ex LEFT JOIN adc
          ON adc.query_id = ex.query_id AND adc.nbr_id = ex.nbr_id
      """)),

    // ---- intra-document repetition REMOVAL (pq16 only measures): drop
    // every repeat of an already-seen 4-token segment, keep the first —
    // row-local array algebra, no shuffle, stream-safe. The clean text is
    // pinned by hash so the oracle checks content, not just counts.
    Q(
      "pq71_repetition_removal",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        TextFunctions.dropRepeatedSegments(d, col("doc_id"), col("text"), segTokens = 4)
          .select(col("doc_id"), col("n_segments"), col("n_kept"),
            md5(col("text_clean")).as("clean_hash"))
      },
      Some("""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        s AS (SELECT doc_id, (len(toks) + 3) // 4 AS nseg, toks FROM t),
        g AS (SELECT doc_id,
                list_transform(generate_series(0, CAST(nseg - 1 AS BIGINT)),
                  i -> array_to_string(list_slice(toks, i*4 + 1, i*4 + 4), ' ')) AS segs
              FROM s),
        k AS (SELECT doc_id, segs,
                list_filter(segs, (x, i) -> list_position(segs, x) = i) AS kept
              FROM g)
        SELECT doc_id, CAST(len(segs) AS INT) AS n_segments,
               CAST(len(kept) AS INT) AS n_kept,
               md5(array_to_string(kept, ' ')) AS clean_hash
        FROM k
      """)),

    // ---- exact duplicated-span REMOVAL (Lee et al. 2022) — the
    // substring-level dedup pq18 only measures: every 5-token window seen
    // more than once corpus-wide keeps its canonical (min doc,pos packed)
    // occurrence; all other occurrences' tokens are cut, overlaps
    // unioning via position-distinct coverage. Clean text pinned by hash.
    Q(
      "pq72_span_removal",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        graft.dedup.Dedup.removeDuplicatedSpans(d, col("doc_id"), col("text"), n = 5)
          .select(col("doc_id"), col("n_tokens"), col("n_removed"),
            md5(col("text_clean")).as("clean_hash"))
      },
      Some("""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        pos AS (
          SELECT doc_id, t,
                 unnest(generate_series(1, greatest(CAST(len(t) AS INT) - 4, 1))) AS i
          FROM toks),
        g AS (
          SELECT doc_id, i - 1 AS pos,
                 CAST(('0x'||substr(md5(array_to_string(t[i:i+4], ' ')),1,15)) AS BIGINT) AS g
          FROM pos),
        canon AS (
          SELECT g, min(doc_id * 1048576 + pos) AS keeper
          FROM g GROUP BY 1 HAVING count(*) > 1),
        rp AS (
          SELECT DISTINCT doc_id, tp FROM (
            SELECT g.doc_id, unnest(generate_series(g.pos, g.pos + 4)) AS tp
            FROM g JOIN canon USING (g)
            WHERE g.doc_id * 1048576 + g.pos <> canon.keeper)),
        tk AS (
          SELECT doc_id, i - 1 AS tp, t[i] AS tok FROM (
            SELECT doc_id, t, unnest(generate_series(1, CAST(len(t) AS INT))) AS i
            FROM toks)),
        j AS (
          SELECT tk.doc_id, tk.tp, tk.tok, rp.tp IS NOT NULL AS rm
          FROM tk LEFT JOIN rp ON rp.doc_id = tk.doc_id AND rp.tp = tk.tp)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
               md5(coalesce(string_agg(tok, ' ' ORDER BY tp) FILTER (WHERE NOT rm), ''))
                 AS clean_hash
        FROM j GROUP BY doc_id
      """)),

    // ---- crawl markup extraction (the WET step): each document is wrapped
    // in deterministic HTML (head/style, h1, entity-escaped body, trailing
    // script) and extract_text must recover plain text — script/style
    // blocks dropped wholesale, tags stripped, entities decoded (&amp;
    // LAST), whitespace collapsed. Row-local regexp chain; the oracle
    // replays the same RE2-compatible patterns.
    Q(
      "pq73_markup_extract",
      (s, dir) => {
        val d = Tables.spreadForRowWork(Tables.documents(s, dir)) // input spread
        val html = concat(
          lit("<html><head><style>p { color: #333; }</style></head><body><h1>Doc "),
          col("doc_id"), lit("</h1>\n<p>"),
          regexp_replace(col("text"), " ", "</p>\n<p>"),
          lit("</p><script>var n = 1 < 2 && 3 > 2;</script></body></html>"))
        val extracted = TextFunctions.extract_text(html)
        d.select(col("doc_id"),
          md5(extracted).as("clean_hash"),
          TextFunctions.token_count(extracted).as("n_tokens"))
      },
      Some("""
        WITH h AS (
          SELECT doc_id,
                 '<html><head><style>p { color: #333; }</style></head><body><h1>Doc '
                   || doc_id || '</h1>' || chr(10) || '<p>'
                   || regexp_replace(text, ' ', '</p>' || chr(10) || '<p>', 'g')
                   || '</p><script>var n = 1 < 2 && 3 > 2;</script></body></html>' AS html
          FROM documents),
        x AS (
          SELECT doc_id,
                 trim(regexp_replace(
                   regexp_replace(
                   regexp_replace(
                   regexp_replace(
                   regexp_replace(
                   regexp_replace(
                   regexp_replace(
                   regexp_replace(
                     regexp_replace(html, '(?s)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
                     '<[^>]*>', ' ', 'g'),
                     '&lt;', '<', 'g'),
                     '&gt;', '>', 'g'),
                     '&quot;', '"', 'g'),
                     '&#39;', '''', 'g'),
                     '&nbsp;', ' ', 'g'),
                     '&amp;', '&', 'g'),
                     '\s+', ' ', 'g')) AS t
          FROM h)
        SELECT doc_id, md5(t) AS clean_hash,
               CAST(len(string_split(t, ' ')) AS INT) AS n_tokens
        FROM x
      """)),

    // ---- ROUND-9 FLAGSHIP: scrub then mix — repetition removal (4-token
    // segments) → duplicated-span removal (5-token windows) → canonical
    // dedup → calibrated gate (keep 70%) → per-source cap (10) →
    // proportional mix (budget 90), ONE plan; the oracle chains all six
    // stage oracles as CTEs, hash-exact end to end.
    Q(
      "pq74_scrub_mix",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        graft.pipeline.Curation.scrubAndMix(
          d, col("doc_id"), col("text"), col("source"), col("lang"),
          segTokens = 4, spanTokens = 5,
          keepFrac = 0.7, cap = 10, alpha = "prop", budget = 90L)
      },
      Some(s"""
        WITH rt0 AS (SELECT doc_id, string_split(text, ' ') AS rtk FROM documents),
        rg AS (SELECT doc_id,
                 list_transform(generate_series(0, CAST((len(rtk) + 3) // 4 - 1 AS BIGINT)),
                   i -> array_to_string(list_slice(rtk, i*4 + 1, i*4 + 4), ' ')) AS segs
               FROM rt0),
        rep AS (SELECT doc_id,
                  array_to_string(
                    list_filter(segs, (x, i) -> list_position(segs, x) = i), ' ') AS rtext
                FROM rg),
        stoks AS (SELECT doc_id, string_split(rtext, ' ') AS t FROM rep),
        spos AS (
          SELECT doc_id, t,
                 unnest(generate_series(1, greatest(CAST(len(t) AS INT) - 4, 1))) AS i
          FROM stoks),
        sg AS (
          SELECT doc_id, i - 1 AS pos,
                 CAST(('0x'||substr(md5(array_to_string(t[i:i+4], ' ')),1,15)) AS BIGINT) AS g
          FROM spos),
        scanon AS (
          SELECT g, min(doc_id * 1048576 + pos) AS keeper
          FROM sg GROUP BY 1 HAVING count(*) > 1),
        srp AS (
          SELECT DISTINCT doc_id, tp FROM (
            SELECT sg.doc_id, unnest(generate_series(sg.pos, sg.pos + 4)) AS tp
            FROM sg JOIN scanon USING (g)
            WHERE sg.doc_id * 1048576 + sg.pos <> scanon.keeper)),
        stk AS (
          SELECT doc_id, i - 1 AS tp, t[i] AS tok FROM (
            SELECT doc_id, t, unnest(generate_series(1, CAST(len(t) AS INT))) AS i
            FROM stoks)),
        scrub AS (
          SELECT stk.doc_id,
                 coalesce(string_agg(stk.tok, ' ' ORDER BY stk.tp)
                   FILTER (WHERE srp.tp IS NULL), '') AS text
          FROM stk LEFT JOIN srp ON srp.doc_id = stk.doc_id AND srp.tp = stk.tp
          GROUP BY stk.doc_id),
        canon AS (
          SELECT d.doc_id, d.source, d.lang AS stratum, sc.text,
                 md5(CASE WHEN trim(regexp_replace(regexp_replace(lower(sc.text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) = '' THEN lower(sc.text) ELSE trim(regexp_replace(regexp_replace(lower(sc.text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) END) AS ch
          FROM documents d JOIN scrub sc ON sc.doc_id = d.doc_id
          WHERE sc.text <> ''),
        keep AS (
          SELECT c.doc_id, c.source, c.stratum, c.text
          FROM canon c JOIN (SELECT ch, min(doc_id) AS doc_id FROM canon GROUP BY 1) k
            ON c.ch = k.ch AND c.doc_id = k.doc_id),
        sc AS (
          SELECT doc_id, source, stratum, $oQualityScore AS score
          FROM (SELECT doc_id, source, stratum, text, string_split(text, ' ') AS toks FROM keep)),
        cs AS (SELECT score, count(*) AS c FROM sc GROUP BY 1),
        cum AS (SELECT score, c, sum(c) OVER (ORDER BY score) - c AS below FROM cs),
        tot AS (SELECT count(*) AS n FROM sc),
        thr AS (
          SELECT score AS thr FROM cum, tot
          WHERE below <= CAST(floor((1.0 - 0.7) * n) AS BIGINT)
            AND CAST(floor((1.0 - 0.7) * n) AS BIGINT) < below + c),
        gated AS (SELECT sc.* FROM sc, thr WHERE score >= thr),
        capped AS (
          SELECT source, doc_id, stratum, score, rank FROM (
            SELECT source, doc_id, stratum, score,
                   row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id ASC) AS rank
            FROM gated) WHERE rank <= 10),
        cen AS (SELECT stratum, count(*) AS n FROM capped GROUP BY 1),
        w AS (SELECT stratum, n, n AS w FROM cen),
        sw AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM w),
        r AS (SELECT stratum,
                     least(CAST(1000 AS BIGINT), (1000 * ((90 * w) // sw)) // n) AS rate_pm
              FROM w, sw),
        b AS (SELECT c.doc_id, c.source, c.stratum, CAST(c.rank AS INT) AS rank, c.score,
                     r.rate_pm,
                     CAST(('0x'||substr(md5(CAST(c.doc_id AS VARCHAR)),1,15)) AS BIGINT) % 1000
                       AS sample_bucket
              FROM capped c JOIN r USING (stratum))
        SELECT doc_id, source, stratum, rank, score, rate_pm, sample_bucket
        FROM b WHERE sample_bucket < rate_pm
      """)),

    // ---- per-source quality profile: EXACT p50/p90 of the quality score
    // per source — the feed-health dashboard row. Composes the q21
    // two-pass exact-rank machinery (no per-group value buffers) with the
    // shared quality score; hash-exact vs DuckDB's quantile_cont.
    Q(
      "pq75_source_quality",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val scored = d.select(col("source"),
          TextFunctions.quality_score(col("text")).as("q"))
        graft.operators.Percentiles.exactGroupPercentiles(
            scored, col("source"), col("q"), Seq(0.5, 0.9))
          .groupBy(col("g"))
          .agg(
            round(max(when(col("p") === 0.5, col("pct"))), 4).as("q50"),
            round(max(when(col("p") === 0.9, col("pct"))), 4).as("q90"),
            max(col("n")).as("n"))
          .select(col("g").as("source"), col("q50"), col("q90"), col("n"))
      },
      Some(s"""
        SELECT source,
               round(quantile_cont(q, 0.5), 4) AS q50,
               round(quantile_cont(q, 0.9), 4) AS q90,
               count(*) AS n
        FROM (
          SELECT source, $oQualityScore AS q
          FROM (SELECT source, text, string_split(text, ' ') AS toks FROM documents))
        GROUP BY source
      """)),

    // ---- leakage-safe train/val/test split: the split is decided by the
    // hash of the doc's canonical-content GROUP (min id per canonical
    // hash), never its own id — canonical duplicates can never straddle
    // the boundary and leak training text into eval. 800/100/100 ‰.
    Q(
      "pq76_leakage_safe_split",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        graft.sampling.Sampling.leakageSafeSplit(
          d, col("doc_id"), col("text"),
          Seq("train" -> 800, "val" -> 100, "test" -> 100))
      },
      Some("""
        WITH canon AS (
          SELECT doc_id,
                 md5(CASE WHEN trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) = '' THEN lower(text) ELSE trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) END) AS ch
          FROM documents),
        grp AS (SELECT ch, min(doc_id) AS gk FROM canon GROUP BY 1),
        j AS (
          SELECT c.doc_id, g.gk,
                 CAST(('0x'||substr(md5(CAST(g.gk AS VARCHAR)),1,15)) AS BIGINT) % 1000 AS b
          FROM canon c JOIN grp g USING (ch))
        SELECT doc_id, gk AS group_key,
               CASE WHEN b < 800 THEN 'train'
                    WHEN b < 900 THEN 'val'
                    ELSE 'test' END AS split
        FROM j
      """)),

    // ---- mixing to an EXPLICIT target distribution — the "40% web, 30%
    // code…" form beside the census-derived α-mix (pq52). Per-stratum
    // target ⌊budget·share/1000⌋, rate min(1000, 1000·target÷n), all
    // 64-bit integer arithmetic, keep decided by the row's own id hash.
    Q(
      "pq78_target_mix",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        graft.sampling.Sampling.mixToTarget(
            d, col("doc_id"), col("lang"),
            Map("en" -> 500, "de" -> 250, "zh" -> 150, "es" -> 100),
            budget = 200L)
          .select(col("doc_id"), col("lang"), col("rate_pm"), col("sample_bucket"))
      },
      Some("""
        WITH cen AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        sh AS (
          SELECT lang, n,
                 CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 250
                           WHEN 'zh' THEN 150 WHEN 'es' THEN 100
                           ELSE 0 END AS share
          FROM cen),
        r AS (SELECT lang,
                     least(CAST(1000 AS BIGINT), (1000 * ((200 * share) // 1000)) // n) AS rate_pm
              FROM sh)
        SELECT d.doc_id, d.lang, r.rate_pm,
               CAST(('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)),1,15)) AS BIGINT) % 1000
                 AS sample_bucket
        FROM documents d JOIN r USING (lang)
        WHERE CAST(('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)),1,15)) AS BIGINT) % 1000
                < r.rate_pm
      """)),

    // ---- per-source OOV rate vs the corpus' own top-60 vocabulary: the
    // feed-health number that flags a source drifting into unseen terms
    // (spam, another language, encoding damage). Vocabulary broadcast
    // back; per-source membership probe row-local; integer-exact ppm.
    Q(
      "pq79_oov_rate",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        graft.quality.CorpusStats.oovRate(d, col("source"), col("text"), topN = 60)
      },
      Some("""
        WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS t FROM documents),
        voc AS (SELECT t FROM (
          SELECT t, count(*) AS c FROM tok GROUP BY 1
          ORDER BY c DESC, t ASC LIMIT 60)),
        j AS (SELECT tok.source, voc.t IS NOT NULL AS inv
              FROM tok LEFT JOIN voc ON voc.t = tok.t)
        SELECT source AS "group",
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN inv THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
               CAST(floor(1000000 * sum(CASE WHEN inv THEN 0 ELSE 1 END) / count(*)) AS BIGINT) AS oov_ppm
        FROM j GROUP BY source
      """)),

    // ---- compression-ratio quality signal (Gopher-style): level-6 zlib
    // bytes per mille of the raw length — repetitive/boilerplate text
    // compresses far below natural text. Deterministic for a fixed JDK
    // zlib but with no SQL form ⇒ rows-only like pq68; exactness is
    // pinned against a direct java.util.zip reference in the spec.
    Q(
      "pq77_compression_quality",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        d.select(col("doc_id"), length(col("text")).cast("long").as("raw_len"),
          graft.functions.compression_ratio_pm(col("text")).as("ratio_pm"))
      },
      None),

    // ---- OPQ-rotated IVF-PQ: the full production ANN layout (learned
    // orthogonal rotation → PQ encode → coarse-pruned ADC — FAISS
    // `OPQ,IVFx,PQy`). trainOpq is driver-resident over a bounded
    // id-ordered sample (the FAISS training contract) and deterministic end
    // to end (sequential loops, fixed-sweep Jacobi SVD), but the learned R
    // has no SQL form — an SVD is not oracle-replayable — so this registers
    // rows-only like pq68/pq77; PqSpec pins the rotation's orthogonality,
    // determinism, distortion cut and composed recall lift instead.
    // Everything corpus-scale stays row-local/broadcast: R and the
    // codebooks ride the plan as literals, the rotation is the native
    // mat_vec expression, and only nprobe/nlist of the code table is
    // ADC-scored.
    Q(
      "pq80_knn_opq_ivfpq",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val (rot, cb) = graft.similarity.Pq.trainOpq(
          e, col("vec_id"), col("embedding"),
          m = 8, k = 16, sampleCap = 4096, kmIters = 4, opqIters = 4)
        val r = e.withColumn("vr", graft.similarity.Pq.rotateVec(col("embedding"), rot))
        graft.similarity.Pq.ivfAdcTopK(
          r, r.filter(col("vec_id") % 25 === 0), "vec_id", "vr", cb,
          k = 10, nlist = 32, nprobe = 8)
      },
      None),

    // ---- the OPQ recall FLOOR as a registered row: per query vector, the
    // INTEGER hit counts of pq80's OPQ IVF-PQ and pq66's plain
    // synthetic-codebook IVF-PQ against the exact brute-force top-10, at
    // the SAME fixed nprobe — the comparison that
    // previously lived only in PqSpec. Deterministic end to end (trainOpq
    // is sequential fixed-sweep, ivfAdcTopK is integer-ranked), but the
    // learned rotation has no SQL form (an SVD is not oracle-replayable),
    // so the row is rows-only like pq68/pq77/pq80; the FLOOR ITSELF —
    // sum(n_hit_opq) >= sum(n_hit_pq) — is asserted on this registered row
    // by PqSpec, so a regression in either path trips a named test, not
    // just a silent recall drift.
    Q(
      "pq98_opq_recall_floor",
      (s, dir) => {
        val e = Tables.embeddings(s, dir)
        val queries = e.filter(col("vec_id") % 25 === 0)
        val exact = graft.similarity.Knn.bruteForceTopK(
          e, queries, "vec_id", "embedding", k = 10)
        val plain = graft.similarity.Pq.ivfAdcTopK(
          e, queries, "vec_id", "embedding",
          graft.similarity.Pq.syntheticCodebooks(m = 8, k = 16, w = 8),
          k = 10, nlist = 32, nprobe = 8)
        val (rot, ocb) = graft.similarity.Pq.trainOpq(
          e, col("vec_id"), col("embedding"),
          m = 8, k = 16, sampleCap = 4096, kmIters = 4, opqIters = 4)
        val r = e.withColumn("vr", graft.similarity.Pq.rotateVec(col("embedding"), rot))
        val opq = graft.similarity.Pq.ivfAdcTopK(
          r, r.filter(col("vec_id") % 25 === 0), "vec_id", "vr", ocb,
          k = 10, nlist = 32, nprobe = 8)
        graft.similarity.Eval.recallPerQuery(opq, exact)
          .select(col("query_id"), col("n_truth"), col("n_hit").as("n_hit_opq"))
          .join(graft.similarity.Eval.recallPerQuery(plain, exact)
            .select(col("query_id"), col("n_hit").as("n_hit_pq")), Seq("query_id"))
      },
      None),

    // ---- HLL distinct-count sketch per source — the mergeable summary that
    // replaces count(DISTINCT text)'s full-key shuffle at corpus scale: the
    // reduce side sees sources × 256 register rows, never the corpus. Fully
    // hash-checked: registers derive from the portable md5-prefix hash
    // (low 8 bits → register, bitlen of the remaining 52 → rho), `harmonic`
    // is the EXACT integer 2^53·Σ2^-M_j (dyadic terms — no float error, no
    // summation-order dependence), and `est` is the raw Flajolet estimate
    // whose only float ops are literal-constant arithmetic and one
    // double/int64 division, IEEE-identical across engines. `zero_regs`
    // feeds the standard linear-counting correction downstream (not applied
    // here: ln is libm-dependent). Error bound vs exact is HllSpec's job.
    Q(
      "pq81_hll_distinct",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        graft.quality.CorpusStats.hllDistinct(d, col("source"), col("text"), m = 256)
          .withColumnRenamed("group", "source")
      },
      Some(s"""
        WITH rw AS (
          -- text IS NOT NULL mirrors the Spark side's j-isNotNull filter:
          -- null keys carry no distinct-count signal
          SELECT source, ${dh("text")} & 255 AS j, ${dh("text")} >> 8 AS w
          FROM documents WHERE text IS NOT NULL),
        rho AS (
          SELECT source, j,
                 CASE WHEN w = 0 THEN 53
                      ELSE 53 - length(bin(w)) END AS rho
          FROM rw),
        regs AS (SELECT source, j, max(rho) AS m_j FROM rho GROUP BY 1, 2),
        dense AS (
          SELECT s.source, g.j, coalesce(r.m_j, 0) AS m0
          -- a source with ONLY null texts has no sketch and no Spark-side
          -- output row — exclude it from the densify's source list too
          FROM (SELECT DISTINCT source FROM documents WHERE text IS NOT NULL) s
          CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS j) g
          LEFT JOIN regs r ON r.source = s.source AND r.j = g.j),
        agg AS (
          SELECT source,
                 CAST(sum(CASE WHEN m0 = 0 THEN 1 ELSE 0 END) AS INT) AS zero_regs,
                 CAST(sum(CAST(1 AS BIGINT) << CAST(53 - m0 AS INT)) AS BIGINT) AS harmonic
          FROM dense GROUP BY 1)
        SELECT source, zero_regs, harmonic,
               CAST(floor(
                 ((CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE)))
                  * (CAST(65536.0 AS DOUBLE) * CAST(9007199254740992.0 AS DOUBLE)))
                 / CAST(harmonic AS DOUBLE)) AS BIGINT) AS est
        FROM agg
      """)),

    // ---- KMV sketch cross-source Jaccard — the SKETCH path of pq56's exact
    // token-overlap matrix: per source keep the 128 smallest distinct token
    // hashes (BottomKDistinctAgg — O(k) per partition, map-side mergeable,
    // the exchange carries kilobytes at any corpus size), then estimate each
    // pair's Jaccard from the k-smallest of the sketch union. Fully
    // hash-checked: the oracle replays the identical bottom-k (same
    // md5-prefix hashes, ascending rank), the identical union-sketch
    // truncation, and the all-integer membership counts.
    Q(
      "pq82_kmv_source_jaccard",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val toks = d.select(col("source"),
          explode(array_distinct(TextFunctions.tokens(col("text")))).as("tok"))
        val sk = graft.quality.CorpusStats.kmvSketch(toks, col("source"), col("tok"), k = 128)
        graft.quality.CorpusStats.kmvJaccard(sk)
      },
      Some(s"""
        WITH th AS (
          SELECT DISTINCT source, ${dh("t")} AS h
          FROM (SELECT source, unnest(string_split(text, ' ')) AS t FROM documents)
          WHERE t IS NOT NULL),
        rk AS (
          SELECT source, h,
                 row_number() OVER (PARTITION BY source ORDER BY h ASC) AS rn
          FROM th),
        sk AS (SELECT source, h FROM rk WHERE rn <= 128),
        srcs AS (SELECT DISTINCT source FROM documents),
        pr AS (
          SELECT a.source AS src_a, b.source AS src_b
          FROM srcs a JOIN srcs b ON a.source < b.source),
        uh AS (
          SELECT pr.src_a, pr.src_b, s.h,
                 max(CASE WHEN s.source = pr.src_a THEN 1 ELSE 0 END) AS in_a,
                 max(CASE WHEN s.source = pr.src_b THEN 1 ELSE 0 END) AS in_b
          FROM pr JOIN sk s ON s.source IN (pr.src_a, pr.src_b)
          GROUP BY 1, 2, 3),
        ur AS (
          SELECT *, row_number() OVER (PARTITION BY src_a, src_b ORDER BY h ASC) AS rn
          FROM uh),
        ag AS (
          SELECT src_a, src_b,
                 CAST(count(*) AS INT) AS union_k,
                 CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS INT) AS inter_k
          FROM ur WHERE rn <= 128 GROUP BY 1, 2)
        SELECT src_a, src_b, union_k, inter_k,
               -- greatest(union_k,1) mirrors CorpusStats.kmvJaccard's guard:
               -- two empty sketches report 0 shared, not a division by zero
               CAST(floor(CAST(1000.0 AS DOUBLE) * inter_k / greatest(union_k, 1)) AS BIGINT) AS jacc_pm
        FROM ag
      """)),

    // ---- Z-order (Morton) clustering key (the data-LAYOUT
    // lever: parquet prunes files by per-column min/max, and interleaving
    // the bits of k normalized columns into one sort key makes every file
    // a small k-dimensional box, so a selective filter on ANY dimension
    // skips most files). Pure integer shift/mask/or algebra over
    // [0,1024)-ranked dims — the oracle replays every bit. The pruning
    // payoff itself is asserted physically in ZOrderSpec (files read
    // under a 2-D box filter: z-ordered ≪ single-column-sorted).
    Q(
      "pq87_zorder_key",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val z = graft.operators.ZOrder.zValue(
          Seq((col("o_orderkey") % 1024, 0L, 1023L),
            (col("o_custkey") % 1024, 0L, 1023L)),
          bits = 10)
        o.select(col("o_orderkey"), z.as("zval"))
      },
      Some {
        val terms = (0 until 10).flatMap(j => Seq(
          s"(((x >> $j) & 1) << ${2 * j})",
          s"(((y >> $j) & 1) << ${2 * j + 1})")).mkString(" + ")
        s"""
        SELECT o_orderkey, CAST($terms AS BIGINT) AS zval
        FROM (SELECT o_orderkey, o_orderkey % 1024 AS x, o_custkey % 1024 AS y
              FROM orders)
      """
      }),

    // ---- Hilbert-curve layout key (the pq87 Morton twin with strictly
    // better locality — operators/ZOrder.hilbertBits, Skilling 2004). The
    // oracle UNROLLS the same algorithm into staged CTEs — one stage per
    // (bit, dim) exchange step with the loop constants (Q, Q-1) baked as
    // literals, then the Gray/parity/interleave tail as closed-form XOR
    // expressions. Hash-exact: any drift in loop order, Gray direction or
    // interleave bit placement breaks it.
    Q(
      "pq92_hilbert_key",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        graft.operators.ZOrder.withHilbertValue(
          o.select(col("o_orderkey"), col("o_custkey")),
          Seq((col("o_orderkey") % 256, 0L, 255L),
            (col("o_custkey") % 256, 0L, 255L)),
          bits = 8, outCol = "hval")
          .select(col("o_orderkey"), col("hval"))
      },
      Some {
        val n = 2
        val bits = 8
        val sb = new StringBuilder(
          "WITH s0 AS (SELECT o_orderkey, o_orderkey % 256 AS x0, " +
            "o_custkey % 256 AS x1 FROM orders)")
        var stage = 0
        var q = 1L << (bits - 1)
        while (q > 1) {
          val p = q - 1
          for (i <- 0 until n) {
            stage += 1
            val cond = s"(x$i & $q) <> 0"
            val t = s"(xor(x0, x$i) & $p)"
            val cols = (0 until n).map {
              case 0 =>
                s"CASE WHEN $cond THEN xor(x0, $p) ELSE xor(x0, $t) END AS x0"
              case k if k == i =>
                s"CASE WHEN $cond THEN x$i ELSE xor(x$i, $t) END AS x$i"
              case k => s"x$k AS x$k"
            }.mkString(", ")
            sb.append(s", s$stage AS (SELECT o_orderkey, $cols FROM s${stage - 1})")
          }
          q >>= 1
        }
        def cum(i: Int): String = if (i == 0) "x0" else s"xor(x$i, ${cum(i - 1)})"
        val grayCols = (0 until n).map(i => s"${cum(i)} AS x$i").mkString(", ")
        sb.append(s", g AS (SELECT o_orderkey, $grayCols FROM s$stage)")
        val tExpr = (1 until bits).map { sh =>
          val qq = 1L << sh
          s"CASE WHEN (x${n - 1} & $qq) <> 0 THEN ${qq - 1} ELSE 0 END"
        }.reduce((a, b) => s"xor($a, $b)")
        val finCols = (0 until n).map(i => s"xor(x$i, $tExpr) AS f$i").mkString(", ")
        sb.append(s", fin AS (SELECT o_orderkey, $finCols FROM g)")
        val interleave = (for (j <- 0 until bits; i <- 0 until n)
          yield s"(((f$i >> $j) & 1) << ${j * n + (n - 1 - i)})").mkString(" + ")
        sb.append(s" SELECT o_orderkey, CAST($interleave AS BIGINT) AS hval FROM fin")
        sb.toString
      })
  )
}
