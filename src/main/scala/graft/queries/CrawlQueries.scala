package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{TextFunctions, UrlFunctions}
import graft.pipeline.WebCuration
import graft.quality.GopherRules

/** Crawl-front curation queries: the stages a
  * web-scale pipeline runs between the frontier and dedup — URL-level
  * curation (canonical-URL dedup, domain blocklists, per-domain caps) and
  * the published heuristic document filters (Gopher rules, C4 line
  * cleaning). The documents table has no URL/line structure, so each query
  * synthesizes it deterministically (the pq73 wrap-then-recover pattern):
  * messy URLs with tracking params and default ports, multi-line documents
  * with bullets/ellipses/boilerplate — and the operator must recover or
  * judge them identically in both engines.
  */
object CrawlQueries {

  /** One pattern source, two engines: the oracle replays the canonicalize
    * chain from the SAME constants [[UrlFunctions]] compiles into the plan.
    */
  private val pfx   = UrlFunctions.AuthorityPrefixRe
  private val hostRe = UrlFunctions.HostRe
  private val trackRe = UrlFunctions.TrackingParamRe
  private val suffixIn =
    UrlFunctions.MultiLabelSuffixes.map(s => s"'$s'").mkString(", ")

  /** strpos tables for the percent-normalization replay, emitted from the
    * SAME [[UrlFunctions.UnreservedChars]] constant the Spark decode map
    * is built from: `|30|31|…|7E|` aligned with `0123…~`.
    */
  private val pctHexTable =
    UrlFunctions.UnreservedChars.map(c => f"${c.toInt}%02X")
      .mkString("|", "|", "|")
  private val pctCharTable = UrlFunctions.UnreservedChars.mkString

  /** DuckDB replay of [[UrlFunctions.percent_normalize]] (chain step 2 —
    * applied BEFORE [[oCanon]], matching the Spark order so decoded
    * authority letters case-fold) over column `e`: split on `%`,
    * uppercase each triplet's hex, decode unreserved octets via the
    * shared strpos tables, reassemble. Applying it ahead of oCanon's
    * fragment strip is equivalent: the decode can never mint a `#`. (The
    * IDN fold — chain step 8 — is identity on ASCII hosts and has no
    * DuckDB analog; pq91 pins it with literal punycode twins instead.)
    */
  private def oPct(e: String): String =
    s"""CASE WHEN strpos($e, '%') = 0 THEN $e ELSE
          array_to_string(list_transform(string_split($e, '%'), (s, i) ->
            CASE WHEN i = 1 THEN s
                 WHEN strpos('$pctHexTable', '|' || upper(substring(s, 1, 2)) || '|') > 0
                 THEN substring('$pctCharTable',
                        CAST((strpos('$pctHexTable', '|' || upper(substring(s, 1, 2)) || '|') - 1) // 3 AS INT) + 1, 1)
                      || substring(s, 3)
                 WHEN regexp_matches(upper(substring(s, 1, 2)), '^[0-9A-F]{2}$$')
                 THEN '%' || upper(substring(s, 1, 2)) || substring(s, 3)
                 ELSE '%' || s END), '')
        END"""

  /** DuckDB replay of [[UrlFunctions.url_canonicalize]] steps 1 + 3-7
    * over column `u` (step 2 = [[oPct]], applied FIRST by the caller's
    * CTE; step 8 is ASCII-identity, see [[oPct]]).
    */
  private def oCanon(u: String): String =
    s"""regexp_replace(regexp_replace(
          regexp_replace(
          regexp_replace(
          regexp_replace(
          regexp_replace(
          regexp_replace(
          regexp_replace(
            lower(regexp_extract(regexp_replace(trim($u), '#.*$$', ''), '$pfx', 0))
              || regexp_replace(regexp_replace(trim($u), '#.*$$', ''), '$pfx', ''),
            '^(https?://)www\\.', '\\1'),
            '^(http://[^/:?#]+):80([/?#]|$$)', '\\1\\2'),
            '^(https://[^/:?#]+):443([/?#]|$$)', '\\1\\2'),
            '$trackRe', '\\1', 'g'),
            '([?&])&+', '\\1', 'g'),
            '[?&]+$$', ''),
          '/+\\?', '?', 'g'), '/+$$', '')"""

  /** DuckDB replay of [[UrlFunctions.url_registrable_domain]] over a
    * labels-list column `p` and host column `h`.
    */
  private def oDomain(h: String, p: String): String =
    s"""CASE WHEN len($p) <= 2 THEN $h
             WHEN array_to_string(list_slice($p, len($p)-1, len($p)), '.') IN ($suffixIn)
               THEN array_to_string(list_slice($p, len($p)-2, len($p)), '.')
             ELSE array_to_string(list_slice($p, len($p)-1, len($p)), '.') END"""

  val all: Seq[Q] = Seq(
    // ---- URL crawl curation flagship: synthesize a messy URL per doc
    // (4 deterministic families: uppercase host + default port + tracking
    // params; duplicate-path blog posts with click ids + fragments; a
    // blocklisted tracker domain; a docs site with page-number dups) →
    // canonical-URL dedup (keep min doc_id) → registrable-domain blocklist
    // (broadcast anti join) → per-domain cap of 10 by quality score
    // (bounded top_k_by heap — never a corpus window sort). Hash-exact:
    // the oracle replays the full canonicalize chain, the PSL-subset
    // domain logic, the election, the blocklist and the capped ranking.
    Q(
      "pq83_url_curation",
      (s, dir) => {
        val d  = Tables.documents(s, dir)
        val id = col("doc_id")
        val url = when(id % 4 === 0, concat(
            lit("https://WWW.News.Example.CO.UK:443/Story/"), id,
            lit("/?utm_source=rss&utm_medium=feed")))
          .when(id % 4 === 1, concat(
            lit("HTTP://Blog.Example.COM:80/posts/"), id % 50,
            lit("?id="), id % 50, lit("&fbclid=abc"), id, lit("#section2")))
          .when(id % 4 === 2, concat(
            lit("https://spam.tracker.biz/offer/"), id % 10, lit("/")))
          .otherwise(concat(
            lit("https://docs.example.com/guide?page="), id % 20,
            lit("&utm_campaign=x&ref_src=tw")))
        val blocked = s.createDataFrame(
          java.util.List.of(org.apache.spark.sql.Row("tracker.biz")),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(
              "domain", org.apache.spark.sql.types.StringType))))
        WebCuration.curateCrawl(
          d.withColumn("url", url), id, col("url"),
          TextFunctions.quality_score(col("text")), blocked, cap = 10)
      },
      Some(s"""
        WITH u0 AS (
          SELECT doc_id, text,
            CASE
              WHEN doc_id % 4 = 0 THEN 'https://WWW.News.Example.CO.UK:443/Story/' || doc_id || '/?utm_source=rss&utm_medium=feed'
              WHEN doc_id % 4 = 1 THEN 'HTTP://Blog.Example.COM:80/posts/' || (doc_id % 50) || '?id=' || (doc_id % 50) || '&fbclid=abc' || doc_id || '#section2'
              WHEN doc_id % 4 = 2 THEN 'https://spam.tracker.biz/offer/' || (doc_id % 10) || '/'
              ELSE 'https://docs.example.com/guide?page=' || (doc_id % 20) || '&utm_campaign=x&ref_src=tw'
            END AS url
          FROM documents),
        c7 AS (SELECT doc_id, text, ${oPct("url")} AS cu2 FROM u0),
        c8 AS (SELECT doc_id, text, ${oCanon("cu2")} AS canon_url FROM c7),
        hn AS (SELECT *, lower(regexp_extract(canon_url, '$hostRe', 1)) AS h FROM c8),
        rd AS (SELECT doc_id, text, canon_url,
                      ${oDomain("h", "p")} AS domain
               FROM (SELECT *, string_split(h, '.') AS p FROM hn)),
        ded AS (
          SELECT r.* FROM rd r
          JOIN (SELECT md5(canon_url) AS uh, min(doc_id) AS kid
                FROM rd GROUP BY 1) k
            ON md5(r.canon_url) = k.uh AND r.doc_id = k.kid),
        blk AS (SELECT * FROM ded WHERE domain NOT IN ('tracker.biz')),
        sc AS (
          SELECT doc_id, domain, canon_url, $oQualityScore AS score
          FROM (SELECT doc_id, domain, canon_url, text,
                       string_split(text, ' ') AS toks FROM blk)),
        tot AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_total
                FROM sc GROUP BY 1),
        rk AS (
          SELECT doc_id, domain, canon_url, score,
                 row_number() OVER (PARTITION BY domain
                                    ORDER BY score DESC, doc_id) AS rnk
          FROM sc)
        SELECT r.domain, CAST(r.rnk AS INT) AS rank, r.doc_id, r.score,
               t.n_total, r.canon_url
        FROM rk r JOIN tot t USING (domain)
        WHERE r.rnk <= 10
      """)),

    // ---- Gopher quality-rule bundle: each doc is laid out as 8-token
    // lines, then six deterministic document families exercise the rules
    // (all-bulleted lines; every-other-line ellipses; a trailing
    // hash-symbol boilerplate line; a 4x-repeated first line; two plain
    // families). Every raw metric and every per-rule flag is in the
    // output, hash-exact — the oracle recomputes the full ruleset from
    // the same line synthesis. Row-local array algebra, zero shuffle.
    Q(
      "pq84_gopher_rules",
      (s, dir) => {
        val d  = Tables.spreadForRowWork(Tables.documents(s, dir)) // row work dominates
        val id = col("doc_id")
        val toks = split(col("text"), " ")
        val nLines = ((size(toks) + 7) / 8).cast("int")
        val lines0 = transform(
          sequence(lit(0), nLines - 1),
          i => array_join(slice(toks, i * 8 + 1, lit(8)), " "))
        val dec = when(id % 6 === 1,
            transform(lines0, l => concat(lit("- "), l)))
          .when(id % 6 === 2,
            transform(lines0, (l, i) =>
              when(i % 2 === 0, concat(l, lit("..."))).otherwise(l)))
          .when(id % 6 === 4,
            concat(array_repeat(element_at(lines0, 1), 4), lines0))
          .otherwise(lines0)
        val doc = when(id % 6 === 3,
            concat(array_join(dec, "\n"),
              lit("\n# # # # # # # # # # # # # # #")))
          .otherwise(array_join(dec, "\n"))
        GopherRules.withMetricsAndFlags(
            d.select(id, doc.as("__doc")), col("__doc"),
            GopherRules.Params(minWords = 30L))
          .select(col("doc_id"), col("m.*"), col("f.*"))
      },
      Some("""
        WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        l0 AS (SELECT doc_id,
                 list_transform(generate_series(0, CAST((len(toks) + 7) // 8 - 1 AS BIGINT)),
                   i -> array_to_string(list_slice(toks, i*8 + 1, i*8 + 8), ' ')) AS lines0
               FROM t0),
        dec AS (SELECT doc_id,
                  CASE
                    WHEN doc_id % 6 = 1 THEN list_transform(lines0, l -> '- ' || l)
                    WHEN doc_id % 6 = 2 THEN list_transform(lines0,
                      (l, i) -> CASE WHEN (i-1) % 2 = 0 THEN l || '...' ELSE l END)
                    WHEN doc_id % 6 = 4 THEN
                      list_concat([lines0[1], lines0[1], lines0[1], lines0[1]], lines0)
                    ELSE lines0
                  END AS lns
                FROM l0),
        d2 AS (SELECT doc_id,
                 CASE WHEN doc_id % 6 = 3
                      THEN array_to_string(lns, chr(10)) || chr(10) ||
                           '# # # # # # # # # # # # # # #'
                      ELSE array_to_string(lns, chr(10)) END AS doc
               FROM dec),
        w AS (SELECT doc_id, doc,
                list_filter(string_split(replace(doc, chr(10), ' '), ' '), x -> len(x) > 0) AS words,
                list_filter(string_split(doc, chr(10)), x -> len(x) > 0) AS lines
              FROM d2),
        m AS (SELECT doc_id,
          CAST(len(words) AS BIGINT) AS n_words,
          CAST(len(lines) AS BIGINT) AS n_lines,
          round(CAST(coalesce(list_sum(list_transform(words, x -> len(x))), 0) AS DOUBLE)
                / greatest(len(words), 1), 6) AS mean_word_len,
          round(CAST(length(doc) - length(translate(doc, '#', '')) AS DOUBLE)
                / greatest(len(words), 1), 6) AS hash_ratio,
          round(CAST((length(doc) - length(replace(doc, '...', ''))) // 3
                     + length(doc) - length(translate(doc, '…', '')) AS DOUBLE)
                / greatest(len(words), 1), 6) AS ellipsis_ratio,
          round(CAST(len(list_filter(lines, l -> starts_with(l, '- ')
                     OR starts_with(l, '* ') OR starts_with(l, '• '))) AS DOUBLE)
                / greatest(len(lines), 1), 6) AS bullet_frac,
          round(CAST(len(list_filter(lines, l -> l LIKE '%...' OR l LIKE '%…')) AS DOUBLE)
                / greatest(len(lines), 1), 6) AS ellipsis_line_frac,
          round(CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                / greatest(len(words), 1), 6) AS alpha_word_frac,
          CAST(len(list_intersect(list_distinct(words),
               ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_stopwords,
          round(CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
                / greatest(len(lines), 1), 6) AS dup_line_frac,
          round(CAST(coalesce(list_sum(list_transform(lines, x -> len(x))), 0)
                     - coalesce(list_sum(list_transform(list_distinct(lines), x -> len(x))), 0) AS DOUBLE)
                / greatest(coalesce(list_sum(list_transform(lines, x -> len(x))), 0), 1), 6) AS dup_line_char_frac
        FROM w)
        SELECT doc_id, n_words, n_lines, mean_word_len, hash_ratio, ellipsis_ratio,
               bullet_frac, ellipsis_line_frac, alpha_word_frac, n_stopwords,
               dup_line_frac, dup_line_char_frac,
               (n_words BETWEEN 30 AND 100000) AS ok_word_count,
               (mean_word_len BETWEEN 3.0 AND 10.0) AS ok_mean_word_len,
               (hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1) AS ok_symbol_ratio,
               (bullet_frac <= 0.9) AS ok_bullet_lines,
               (ellipsis_line_frac <= 0.3) AS ok_ellipsis_lines,
               (alpha_word_frac >= 0.8) AS ok_alpha_words,
               (n_stopwords >= 2) AS ok_stopwords,
               (dup_line_frac <= 0.3 AND dup_line_char_frac <= 0.2) AS ok_dup_lines,
               ((n_words BETWEEN 30 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
                 AND (hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1)
                 AND (bullet_frac <= 0.9) AND (ellipsis_line_frac <= 0.3)
                 AND (alpha_word_frac >= 0.8) AND (n_stopwords >= 2)
                 AND (dup_line_frac <= 0.3 AND dup_line_char_frac <= 0.2)) AS gopher_keep
        FROM m
      """)),

    // ---- C4 line-level cleaner: docs laid out as 6-token lines; every
    // third line is left without terminal punctuation (dropped), docs ≡ 0
    // mod 7 get an enable-JavaScript boilerplate line (dropped by the js
    // rule), ≡ 0 mod 11 a brace line and ≡ 0 mod 13 a lorem-ipsum line
    // (page verdicts). Output: cleaned-text hash + kept-line count + page
    // verdict per doc, hash-exact. Row-local, zero shuffle, stream-safe.
    Q(
      "pq85_c4_clean",
      (s, dir) => {
        val d  = Tables.documents(s, dir)
        val id = col("doc_id")
        val toks = split(col("text"), " ")
        val nLines = ((size(toks) + 5) / 6).cast("int")
        val lines0 = transform(
          sequence(lit(0), nLines - 1),
          i => array_join(slice(toks, i * 6 + 1, lit(6)), " "))
        val punct = transform(lines0, (l, i) =>
          when(i % 3 === 2, l).otherwise(concat(l, lit("."))))
        val withJs = when(id % 7 === 0, concat(
            array(lit("You must enable JavaScript to view this page.")),
            punct)).otherwise(punct)
        val withBrace = when(id % 11 === 0,
            concat(withJs, array(lit("if (x) { return; }")))).otherwise(withJs)
        val withLorem = when(id % 13 === 0, concat(withBrace,
            array(lit("Lorem ipsum dolor sit amet consectetur adipiscing elit."))))
          .otherwise(withBrace)
        graft.quality.C4Rules.withClean(
            d.select(id, array_join(withLorem, "\n").as("__doc")),
            col("__doc"), outCol = "c")
          .select(col("doc_id"),
            md5(col("c.clean_text")).as("clean_hash"),
            col("c.n_lines_kept").as("n_lines_kept"),
            col("c.page_keep").as("page_keep"))
      },
      Some("""
        WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        l0 AS (SELECT doc_id,
                 list_transform(generate_series(0, CAST((len(toks) + 5) // 6 - 1 AS BIGINT)),
                   i -> array_to_string(list_slice(toks, i*6 + 1, i*6 + 6), ' ')) AS lines0
               FROM t0),
        p0 AS (SELECT doc_id,
                 list_transform(lines0, (l, i) ->
                   CASE WHEN (i-1) % 3 = 2 THEN l ELSE l || '.' END) AS lns
               FROM l0),
        j0 AS (SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0
                      THEN list_concat(['You must enable JavaScript to view this page.'], lns)
                      ELSE lns END AS lns FROM p0),
        b0 AS (SELECT doc_id,
                 CASE WHEN doc_id % 11 = 0
                      THEN list_concat(lns, ['if (x) { return; }'])
                      ELSE lns END AS lns FROM j0),
        m0 AS (SELECT doc_id,
                 CASE WHEN doc_id % 13 = 0
                      THEN list_concat(lns, ['Lorem ipsum dolor sit amet consectetur adipiscing elit.'])
                      ELSE lns END AS lns FROM b0),
        d2 AS (SELECT doc_id, array_to_string(lns, chr(10)) AS doc FROM m0),
        k AS (SELECT doc_id, doc,
                list_filter(string_split(doc, chr(10)), l ->
                  regexp_matches(l, '[.!?"]$')
                  AND len(list_filter(string_split(l, ' '), w -> len(w) > 0)) >= 5
                  AND NOT contains(lower(l), 'javascript')) AS kept
              FROM d2)
        SELECT doc_id, md5(array_to_string(kept, chr(10))) AS clean_hash,
               CAST(len(kept) AS BIGINT) AS n_lines_kept,
               (NOT contains(lower(doc), 'lorem ipsum') AND NOT contains(doc, '{')
                AND len(kept) >= 3) AS page_keep
        FROM k
      """)),

    // ---- FLAGSHIP: raw crawl → clean corpus in one plan
    // (WebCuration.crawlToCorpus): pq83's messy URLs + pq85's messy
    // multi-line bodies in, then URL dedup → domain blocklist → C4 line
    // cleaning + page gate → Gopher rule gate on the cleaned text →
    // per-domain cap by cleaned-text quality. The oracle chains all five
    // stage oracles as CTEs — a defect in any stage, or in how they
    // compose, breaks the end-to-end hash.
    Q(
      "pq86_crawl_to_corpus",
      (s, dir) => {
        val d  = Tables.documents(s, dir)
        val id = col("doc_id")
        val url = when(id % 4 === 0, concat(
            lit("https://WWW.News.Example.CO.UK:443/Story/"), id,
            lit("/?utm_source=rss&utm_medium=feed")))
          .when(id % 4 === 1, concat(
            lit("HTTP://Blog.Example.COM:80/posts/"), id % 50,
            lit("?id="), id % 50, lit("&fbclid=abc"), id, lit("#section2")))
          .when(id % 4 === 2, concat(
            lit("https://spam.tracker.biz/offer/"), id % 10, lit("/")))
          .otherwise(concat(
            lit("https://docs.example.com/guide?page="), id % 20,
            lit("&utm_campaign=x&ref_src=tw")))
        val toks = split(col("text"), " ")
        val nLines = ((size(toks) + 5) / 6).cast("int")
        val lines0 = transform(
          sequence(lit(0), nLines - 1),
          i => array_join(slice(toks, i * 6 + 1, lit(6)), " "))
        val punct = transform(lines0, (l, i) =>
          when(i % 3 === 2, l).otherwise(concat(l, lit("."))))
        val withJs = when(id % 7 === 0, concat(
            array(lit("You must enable JavaScript to view this page.")),
            punct)).otherwise(punct)
        val withBrace = when(id % 11 === 0,
            concat(withJs, array(lit("if (x) { return; }")))).otherwise(withJs)
        val withLorem = when(id % 13 === 0, concat(withBrace,
            array(lit("Lorem ipsum dolor sit amet consectetur adipiscing elit."))))
          .otherwise(withBrace)
        val blocked = s.createDataFrame(
          java.util.List.of(org.apache.spark.sql.Row("tracker.biz")),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(
              "domain", org.apache.spark.sql.types.StringType))))
        WebCuration.crawlToCorpus(
          d.withColumn("url", url)
            .withColumn("body", array_join(withLorem, "\n")),
          id, col("url"), col("body"), blocked, cap = 10,
          // the synthetic corpus draws on a DB-word vocabulary that carries
          // only "the" from Gopher's 8-word stop set — 1 keeps the rule live
          gopher = GopherRules.Params(minWords = 10L, minStopWords = 1L))
      },
      Some(s"""
        WITH $oCrawlStages,
        sc AS (
          SELECT q.doc_id, b.domain, b.canon_url, md5(q.clean) AS clean_hash,
                 $oQualityScore AS score
          FROM (SELECT pg.doc_id, pg.clean,
                       string_split(replace(pg.clean, chr(10), ' '), ' ') AS toks,
                       replace(pg.clean, chr(10), ' ') AS text
                FROM pg JOIN gpass USING (doc_id)) q
          JOIN (SELECT doc_id, domain, canon_url FROM blk) b
            ON b.doc_id = q.doc_id),
        tot AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_total
                FROM sc GROUP BY 1),
        rk AS (
          SELECT doc_id, domain, canon_url, clean_hash, score,
                 row_number() OVER (PARTITION BY domain
                                    ORDER BY score DESC, doc_id) AS rnk
          FROM sc)
        SELECT r.domain, CAST(r.rnk AS INT) AS rank, r.doc_id, r.score,
               t.n_total, r.canon_url, r.clean_hash
        FROM rk r JOIN tot t USING (domain)
        WHERE r.rnk <= 10
      """)),

    // ---- crawl-front funnel (the pq44 diagnostics shape for pq86): per
    // stage of crawlToCorpus, the survivor count — raw, URL-unique,
    // post-blocklist, C4 page survivors, Gopher survivors — computed as
    // row flags folded by ONE conditional aggregation (nothing recomputed
    // per stage). The oracle counts the same shared stage CTEs.
    Q(
      "pq88_crawl_funnel",
      (s, dir) => {
        val d  = Tables.documents(s, dir)
        val id = col("doc_id")
        val url = when(id % 4 === 0, concat(
            lit("https://WWW.News.Example.CO.UK:443/Story/"), id,
            lit("/?utm_source=rss&utm_medium=feed")))
          .when(id % 4 === 1, concat(
            lit("HTTP://Blog.Example.COM:80/posts/"), id % 50,
            lit("?id="), id % 50, lit("&fbclid=abc"), id, lit("#section2")))
          .when(id % 4 === 2, concat(
            lit("https://spam.tracker.biz/offer/"), id % 10, lit("/")))
          .otherwise(concat(
            lit("https://docs.example.com/guide?page="), id % 20,
            lit("&utm_campaign=x&ref_src=tw")))
        val toks = split(col("text"), " ")
        val nLines = ((size(toks) + 5) / 6).cast("int")
        val lines0 = transform(
          sequence(lit(0), nLines - 1),
          i => array_join(slice(toks, i * 6 + 1, lit(6)), " "))
        val punct = transform(lines0, (l, i) =>
          when(i % 3 === 2, l).otherwise(concat(l, lit("."))))
        val withJs = when(id % 7 === 0, concat(
            array(lit("You must enable JavaScript to view this page.")),
            punct)).otherwise(punct)
        val withBrace = when(id % 11 === 0,
            concat(withJs, array(lit("if (x) { return; }")))).otherwise(withJs)
        val withLorem = when(id % 13 === 0, concat(withBrace,
            array(lit("Lorem ipsum dolor sit amet consectetur adipiscing elit."))))
          .otherwise(withBrace)
        val blocked = s.createDataFrame(
          java.util.List.of(org.apache.spark.sql.Row("tracker.biz")),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(
              "domain", org.apache.spark.sql.types.StringType))))
        WebCuration.crawlFunnel(
          d.withColumn("url", url)
            .withColumn("body", array_join(withLorem, "\n")),
          id, col("url"), col("body"), blocked,
          gopher = GopherRules.Params(minWords = 10L, minStopWords = 1L))
      },
      Some(s"""
        WITH $oCrawlStages
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM u0) AS n_raw,
               (SELECT CAST(count(*) AS BIGINT) FROM ded) AS n_url_unique,
               (SELECT CAST(count(*) AS BIGINT) FROM blk) AS n_unblocked,
               (SELECT CAST(count(*) AS BIGINT) FROM pg) AS n_c4_kept,
               (SELECT CAST(count(*) AS BIGINT) FROM gpass) AS n_gopher_kept
      """)),

    // ---- URL-level crawl CDC (WebCuration.frontierDiff): two snapshots
    // of the crawl diffed by CANONICAL url — v2 re-crawls every non-%5
    // page (some under a different URL FORM: added www. + a tracking
    // param — same canonical, so form churn alone reads `unchanged`),
    // changes content for %7 pages, and adds a new path per %9 doc.
    // Hash-exact: added/removed/changed/unchanged per canonical URL.
    Q(
      "pq89_frontier_diff",
      (s, dir) => {
        val d  = Tables.documents(s, dir)
        val id = col("doc_id")
        val baseUrl = concat(lit("https://site.example.com/page/"), id)
        val v1 = d.select(id, baseUrl.as("url"), col("text"))
        val v2base = d.filter(id % 5 =!= 0).select(
          id,
          when(id % 3 === 0,
            concat(lit("https://www.site.example.com/page/"), id,
              lit("?utm_source=recrawl")))
            .otherwise(baseUrl).as("url"),
          when(id % 7 === 0, concat(col("text"), lit(" updated")))
            .otherwise(col("text")).as("text"))
        val v2new = d.filter(id % 9 === 0).select(
          id,
          concat(lit("https://site.example.com/new/"), id).as("url"),
          col("text"))
        WebCuration.frontierDiff(
          v1, v2base.unionByName(v2new), col("url"), col("text"))
      },
      Some("""
        WITH v1 AS (
          SELECT 'https://site.example.com/page/' || doc_id AS canon_url,
                 md5(text) AS h
          FROM documents),
        v2 AS (
          SELECT 'https://site.example.com/page/' || doc_id AS canon_url,
                 md5(CASE WHEN doc_id % 7 = 0 THEN text || ' updated'
                          ELSE text END) AS h
          FROM documents WHERE doc_id % 5 <> 0
          UNION ALL
          SELECT 'https://site.example.com/new/' || doc_id, md5(text)
          FROM documents WHERE doc_id % 9 = 0),
        a AS (SELECT canon_url, min(h) AS old_hash FROM v1 GROUP BY 1),
        b AS (SELECT canon_url, min(h) AS new_hash FROM v2 GROUP BY 1)
        SELECT coalesce(a.canon_url, b.canon_url) AS canon_url,
               CASE WHEN a.canon_url IS NULL THEN 'added'
                    WHEN b.canon_url IS NULL THEN 'removed'
                    WHEN a.old_hash IS DISTINCT FROM b.new_hash THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM a FULL OUTER JOIN b ON a.canon_url = b.canon_url
      """)),

    // ---- FULL Public Suffix List registrable domain (graft.pipeline.Psl):
    // hosts synthesized over every rule class — 2-label registry, exception
    // (!city.kawasaki.jp), wildcard (*.kawasaki.jp, *.ck), 5-label exact
    // private suffix, unlisted TLD (implicit default rule). The Spark side
    // is the broadcast-join longest-match plan; the oracle replays the
    // published algorithm declaratively (max matching rule depth per kind
    // via correlated lookups into a rules CTE generated FROM THE SAME
    // Psl.sample constants). Hash-exact — a drift in either the parser,
    // the join plan, or precedence breaks it.
    Q(
      "pq90_psl_domain",
      (s, dir) => {
        val d  = Tables.documents(s, dir)
        val id = col("doc_id")
        val host = when(id % 30 === 5, lit("www.ck"))
          .when(id % 6 === 0, concat(lit("a"), id, lit(".b.example.co.uk")))
          .when(id % 6 === 1, concat(lit("sub"), id, lit(".city.kawasaki.jp")))
          .when(id % 6 === 2, concat(lit("deep.s"), id % 5, lit(".kawasaki.jp")))
          .when(id % 6 === 3, concat(
            lit("x"), id, lit(".y.s3.dualstack.ap-northeast-1.amazonaws.com")))
          .when(id % 6 === 4, concat(lit("w"), id, lit(".example.zz")))
          .otherwise(concat(lit("m"), id, lit(".z.ck")))
        graft.pipeline.Psl.sample.withRegistrableDomain(
          d.select(id, host.as("host")), col("host"), "domain")
      },
      Some(s"""
        WITH rules(key, kind, nl) AS (VALUES $oPslRules),
        h0 AS (
          SELECT doc_id,
            CASE
              WHEN doc_id % 30 = 5 THEN 'www.ck'
              WHEN doc_id % 6 = 0 THEN 'a' || doc_id || '.b.example.co.uk'
              WHEN doc_id % 6 = 1 THEN 'sub' || doc_id || '.city.kawasaki.jp'
              WHEN doc_id % 6 = 2 THEN 'deep.s' || (doc_id % 5) || '.kawasaki.jp'
              WHEN doc_id % 6 = 3 THEN 'x' || doc_id || '.y.s3.dualstack.ap-northeast-1.amazonaws.com'
              WHEN doc_id % 6 = 4 THEN 'w' || doc_id || '.example.zz'
              ELSE 'm' || doc_id || '.z.ck'
            END AS host
          FROM documents),
        hn AS (SELECT doc_id, host, p, len(p) AS n
               FROM (SELECT *, string_split(host, '.') AS p FROM h0)),
        m AS (SELECT doc_id, host, p, n,
          (SELECT max(nl) FROM rules r WHERE r.kind = 2 AND r.nl <= n
             AND r.key = array_to_string(list_slice(p, n - r.nl + 1, n), '.')) AS exc,
          (SELECT max(nl) FROM rules r WHERE r.kind = 0 AND r.nl <= n
             AND r.key = array_to_string(list_slice(p, n - r.nl + 1, n), '.')) AS nrm,
          (SELECT max(nl) FROM rules r WHERE r.kind = 1 AND r.nl <= n
             AND r.key = '*.' || array_to_string(list_slice(p, n - r.nl + 2, n), '.')) AS wld
          FROM hn),
        ps AS (SELECT doc_id, host, p, n,
          CASE WHEN exc IS NOT NULL THEN exc - 1
               WHEN nrm IS NULL AND wld IS NULL THEN 1
               ELSE greatest(coalesce(nrm, 0), coalesce(wld, 0)) END AS k
          FROM m)
        SELECT doc_id, host,
          CASE WHEN n > k THEN array_to_string(list_slice(p, n - k, n), '.')
               ELSE host END AS domain
        FROM ps
      """))) :+ pq91 :+ pq93 :+ pq94 :+ pq96 :+ pq99 :+ pq100 :+ pq101 :+ pq102 :+ pq103 :+
      pq104 :+ pq105 :+ pq106 :+ pq107 :+ pq108

  /** The HTTP payload decode chain ([[graft.functions.http_text]]) — the
    * step a real Common Crawl pipeline needs on its FIRST `response`
    * record: strip status+headers, de-chunk `Transfer-Encoding: chunked`,
    * inflate `Content-Encoding: gzip|deflate`, detect the charset (BOM →
    * Content-Type param → `<meta charset>` sniff → UTF-8 validation →
    * windows-1252, the WHATWG order), decode. Each doc is wrapped as a
    * full HTTP/1.1 response whose arm
    * (doc_id % 5) exercises one leg — windows-1252 via header, chunked
    * windows-1252, gzip+chunked html with `<meta charset>` only,
    * bare-zlib deflate with NO declaration (UTF-8 validation arm), and a
    * BOM with no declaration — with a fixed non-ASCII suffix hitting the
    * cp1252-specific 0x80-0x9F positions (curly quotes, em-dash). The
    * operator must recover the EXACT original text; the oracle computes
    * the expected decode directly (the pq73 wrap-then-recover pattern —
    * encode∘decode must be identity, so DuckDB never needs a gzip or a
    * transcoder). Hash-exact on (doc_id, status, charset, n_chars,
    * text_hash).
    */
  private def pq99: Q = Q(
    "pq99_http_text",
    (s, dir) => {
      import graft.functions._
      val d = Tables.documents(s, dir)
      val id = col("doc_id")
      val arm = (id % 5).cast("int")
      // ASCII corpus text + a suffix that only decodes correctly if the
      // cp1252 0x80-0x9F block and the accented range both round-trip
      val payload = concat(col("text"), lit(" — café “quoted” naïve"))
      val html = concat(
        lit("""<html><head><meta charset="utf-8"></head><body>"""),
        payload, lit("</body></html>"))
      val crlf = "\r\n"
      def head(fields: String*): org.apache.spark.sql.Column =
        encode(lit(("HTTP/1.1 200 OK" +: fields).mkString("", crlf, crlf + crlf)), "UTF-8")
      val block =
        when(arm === 0, concat(
          head("Content-Type: text/plain; charset=windows-1252", "Server: graft"),
          charset_encode(payload, lit("windows-1252"))))
        .when(arm === 1, concat(
          head("Content-Type: text/plain; charset=windows-1252",
            "Transfer-Encoding: chunked"),
          http_chunk(charset_encode(payload, lit("windows-1252")), lit(7))))
        .when(arm === 2, concat(
          head("Content-Type: text/html", "Content-Encoding: gzip",
            "Transfer-Encoding: chunked"),
          http_chunk(gzip_compress(encode(html, "UTF-8")), lit(13))))
        .when(arm === 3, concat(
          head("Content-Type: application/octet-stream", "Content-Encoding: deflate"),
          zlib_compress(encode(payload, "UTF-8"))))
        .otherwise(concat(
          head("Content-Type: text/plain"),
          lit(Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte)),
          encode(payload, "UTF-8")))
      d.select(id, block.as("block"))
        .select(id,
          http_status(col("block")).as("status"),
          http_charset(col("block")).as("charset"),
          length(http_text(col("block"))).as("n_chars"),
          md5(encode(http_text(col("block")), "UTF-8")).as("text_hash"))
    },
    Some("""
      WITH p AS (
        SELECT doc_id, text || ' — café “quoted” naïve' AS payload,
               CAST(doc_id % 5 AS INT) AS arm
        FROM documents),
      e AS (
        SELECT doc_id, arm,
          CASE WHEN arm = 2
               THEN '<html><head><meta charset="utf-8"></head><body>' || payload
                    || '</body></html>'
               ELSE payload END AS expected,
          CASE WHEN arm IN (0, 1) THEN 'windows-1252' ELSE 'utf-8' END AS charset
        FROM p)
      SELECT doc_id, CAST(200 AS INT) AS status, charset,
             CAST(length(expected) AS INT) AS n_chars,
             md5(expected) AS text_hash
      FROM e
    """))

  /** Content-coding coverage census ([[graft.functions.http_coding_unsupported]]
    * beside [[graft.functions.http_text]]), for observability: a modern
    * crawl negotiating `Accept-Encoding` sees `zstd` (RFC 8878, now a
    * decode arm via the zstd-jni Spark ships) and `br` (no public pure-JVM decoder available offline — must
    * be a COUNTED loss, not a silent null). Four arms (doc_id % 4): gzip
    * and zstd decode to the exact payload with a null census column; a
    * `Content-Encoding: br` body and a `Transfer-Encoding: br, chunked`
    * body both refuse with census `br` while keeping `http_text` null —
    * so the unsupported-coding loss rate is GROUP-BY-able and
    * distinguishable from corrupt data. Hash-exact per row on (coding,
    * decoded, n_chars, text_hash); the oracle computes expectations
    * directly (wrap-then-recover — DuckDB never needs zstd).
    */
  private def pq102: Q = Q(
    "pq102_http_coding_census",
    (s, dir) => {
      import graft.functions._
      val d = Tables.documents(s, dir)
      val id = col("doc_id")
      val arm = (id % 4).cast("int")
      val payload = concat(col("text"), lit(" — café"))
      val bodyUtf8 = encode(payload, "UTF-8")
      val crlf = "\r\n"
      def head(fields: String*): org.apache.spark.sql.Column =
        encode(lit(("HTTP/1.1 200 OK" +: fields).mkString("", crlf, crlf + crlf)), "UTF-8")
      val block =
        when(arm === 0, concat(
          head("Content-Type: text/plain", "Content-Encoding: gzip"),
          gzip_compress(bodyUtf8)))
        .when(arm === 1, concat(
          head("Content-Type: text/plain", "Content-Encoding: zstd"),
          zstd_compress(bodyUtf8)))
        .when(arm === 2, concat(
          head("Content-Type: text/plain", "Content-Encoding: br"),
          bodyUtf8))
        .otherwise(concat(
          head("Content-Type: text/plain", "Transfer-Encoding: br, chunked"),
          http_chunk(bodyUtf8, lit(11))))
      d.select(id, block.as("block"))
        .select(id,
          http_coding_unsupported(col("block")).as("coding_unsupported"),
          http_text(col("block")).isNotNull.as("decoded"),
          length(http_text(col("block"))).as("n_chars"),
          md5(encode(http_text(col("block")), "UTF-8")).as("text_hash"))
    },
    Some("""
      WITH p AS (
        SELECT doc_id, text || ' — café' AS payload,
               CAST(doc_id % 4 AS INT) AS arm
        FROM documents)
      SELECT doc_id,
             CASE WHEN arm >= 2 THEN 'br' END AS coding_unsupported,
             arm < 2 AS decoded,
             CASE WHEN arm < 2 THEN CAST(length(payload) AS INT) END AS n_chars,
             CASE WHEN arm < 2 THEN md5(payload) END AS text_hash
      FROM p
    """))

  /** Main-content extraction ([[graft.functions.TextFunctions.main_content]]
    * — the jusText/Boilerpipe-class block scorer): each document is
    * wrapped in a full boilerplate-framed page — link-dense nav bar,
    * short cookie banner, short headline, the document text as the
    * article body, link-dense footer — and the operator must recover
    * EXACTLY the article text, dropping every planted boilerplate block.
    * With the oracle-replayable parameterization (length + link-density
    * classification; the stop-word and context-promotion signals are
    * MainContentSpec's fixtures), the expected output is computable
    * directly from the documents table: the body block passes iff the
    * text reaches `minLen`, so DuckDB never parses HTML (wrap-then-
    * recover). Hash-exact on (n_blocks, n_content, n_chars, main_hash).
    */
  private def pq103: Q = Q(
    "pq103_main_content",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      val id = col("doc_id")
      val html = concat(
        lit("<html><head><title>Doc "), id,
        lit("</title><style>nav { color: #900 }</style></head><body>" +
          "<nav><a href=\"/\">Home</a> | <a href=\"/about\">About</a> | " +
          "<a href=\"/contact\">Contact</a> | <a href=\"/login\">Login</a></nav>" +
          "<div>We use cookies. <a href=\"/privacy\">Learn more</a></div>" +
          "<h1>Doc "), id, lit("</h1><p>"), col("text"),
        lit("</p><footer><a href=\"/p\">Privacy</a> <a href=\"/t\">Terms</a>" +
          " (c) Example Inc.</footer></body></html>"))
      val mc = TextFunctions.main_content(html)
      d.select(id, mc.as("__mc"))
        .select(id,
          col("__mc.n_blocks").as("n_blocks"),
          col("__mc.n_content").as("n_content"),
          length(col("__mc.text_main")).as("n_chars"),
          md5(col("__mc.text_main")).as("main_hash"))
    },
    Some("""
      SELECT doc_id,
             CAST(5 AS INT) AS n_blocks,
             CAST(CASE WHEN length(text) >= 80 THEN 1 ELSE 0 END AS INT) AS n_content,
             CAST(CASE WHEN length(text) >= 80 THEN length(text) ELSE 0 END AS INT) AS n_chars,
             md5(CASE WHEN length(text) >= 80 THEN text ELSE '' END) AS main_hash
      FROM documents
    """))

  /** Sitemap-metadata recrawl priority
    * ([[graft.functions.sitemap_entries]] →
    * [[graft.pipeline.WebCuration.recrawlPriority]]) — the half of
    * discovery that decides WHEN to revisit: each doc becomes a
    * `<urlset>` entry whose lastmod (present 2/3, a date arithmetic can
    * replay), changefreq (all seven published values + absent) and
    * priority (present 4/5) vary by doc_id arms; crawl state covers 3/4
    * of the urls with a deterministic fetch age. The operator must parse
    * the XML, convert the W3C date, join state by canonical url and
    * score staleness exactly as the oracle computes it from doc_id
    * arithmetic alone (wrap-then-recover — DuckDB parses no XML and no
    * dates). Hash-exact on (known_changed, staleness, score).
    */
  private def pq104: Q = Q(
    "pq104_recrawl_priority",
    (s, dir) => {
      import graft.functions.sitemap_entries
      val d = Tables.documents(s, dir)
      val id = col("doc_id")
      val url = concat(lit("https://r"), id % 7, lit(".example.com/page/"), id)
      val lastmodDate = date_format(
        date_add(to_date(lit("2025-09-01")), (id % 50).cast("int")), "yyyy-MM-dd")
      val freq = element_at(
        typedlit(Seq("always", "hourly", "daily", "weekly", "monthly", "yearly", "never", "")),
        (id % 8).cast("int") + 1)
      val prioStr = element_at(
        typedlit(Seq("", "0.2", "0.4", "0.6", "0.8")), (id % 5).cast("int") + 1)
      val xml = concat(
        lit("<?xml version=\"1.0\"?><urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\"><url><loc>"),
        url, lit("</loc>"),
        when(id % 3 =!= 0, concat(lit("<lastmod>"), lastmodDate, lit("</lastmod>")))
          .otherwise(lit("")),
        when(freq =!= "", concat(lit("<changefreq>"), freq, lit("</changefreq>")))
          .otherwise(lit("")),
        when(prioStr =!= "", concat(lit("<priority>"), prioStr, lit("</priority>")))
          .otherwise(lit("")),
        lit("</url></urlset>"))
      val entries = d
        .select(id, explode(sitemap_entries(xml)).as("e"))
        .select(
          col("e.loc").as("url"),
          unix_timestamp(to_date(col("e.lastmod"), "yyyy-MM-dd")).as("lastmod_sec"),
          col("e.changefreq").as("changefreq"),
          col("e.priority").as("priority"))
      val state = d.where(id % 4 =!= 0).select(
        concat(lit("https://r"), id % 7, lit(".example.com/page/"), id).as("url"),
        (lit(1760000000L) - (id % 100 + 1) * 86400L).as("last_fetch_sec"))
      graft.pipeline.WebCuration.recrawlPriority(entries, state, nowSec = 1760000000L)
    },
    Some("""
      WITH p AS (
        SELECT doc_id,
          'https://r' || (doc_id % 7) || '.example.com/page/' || doc_id AS canon_url,
          CASE WHEN doc_id % 3 <> 0
               THEN 1756684800 + (doc_id % 50) * 86400 END AS lastmod_sec,
          (['always','hourly','daily','weekly','monthly','yearly','never',NULL])[(doc_id % 8) + 1] AS freq,
          CASE WHEN doc_id % 5 <> 0 THEN CAST(doc_id % 5 AS DOUBLE) / 5.0 END AS prio,
          CASE WHEN doc_id % 4 <> 0
               THEN 1760000000 - (doc_id % 100 + 1) * 86400 END AS last_fetch
        FROM documents),
      q AS (
        SELECT canon_url,
          CASE freq WHEN 'always' THEN 3600 WHEN 'hourly' THEN 3600
               WHEN 'daily' THEN 86400 WHEN 'weekly' THEN 604800
               WHEN 'monthly' THEN 2592000 WHEN 'yearly' THEN 31536000
               WHEN 'never' THEN NULL ELSE 604800 END AS ivl,
          coalesce(prio, 0.5) AS base,
          (lastmod_sec IS NOT NULL AND last_fetch IS NOT NULL
             AND lastmod_sec > last_fetch) AS known_changed,
          last_fetch
        FROM p),
      r AS (
        SELECT canon_url, known_changed,
          CASE WHEN last_fetch IS NULL THEN 4.0
               WHEN known_changed THEN 4.0
               WHEN ivl IS NULL THEN 0.0
               ELSE least(4.0, round((1760000000 - last_fetch) / CAST(ivl AS DOUBLE), 6))
          END AS staleness, base
        FROM q)
      SELECT canon_url, known_changed, staleness,
             round(base * staleness, 6) AS score
      FROM r
    """))

  /** Outlink extraction + RFC 3986 resolution + robots directives — the
    * EDGE half of a crawl ([[graft.pipeline.WebCuration.linkGraph]]):
    * each doc becomes a page whose links exercise one resolution arm
    * each — relative-path merge, `../` dot-segment removal, a
    * scheme-relative `//host` ref to ANOTHER host, an absolute
    * `rel="nofollow noopener"` external link (the flag must come from
    * token membership, not substring luck), and a same-document `#`
    * fragment that must drop row-local. Docs with `doc_id % 7 == 0`
    * carry `<meta name="robots" content="nofollow">` — ALL their edges
    * flag. Run with `honorNofollow = false` so BOTH flag states are
    * hash-checked; the oracle rebuilds every edge from doc_id string
    * arithmetic (wrap-then-recover — DuckDB parses no HTML and resolves
    * no references).
    */
  private def pq105: Q = Q(
    "pq105_link_graph",
    (s, dir) => {
      val d = Tables.spreadForRowWork(Tables.documents(s, dir)) // row work dominates
      val id = col("doc_id")
      val host = concat(lit("https://h"), id % 5, lit(".example.org"))
      val page = concat(host, lit("/a/b/page"), id)
      val html = concat(
        lit("<html><head>"),
        when(id % 7 === 0, lit("""<meta name="robots" content="nofollow">"""))
          .otherwise(lit("")),
        lit("</head><body><a href=\"p/"), (id * 3) % 1000,
        lit("\">l1</a> <a href='../up/"), id,
        lit("'><b>l2</b></a> <a href=\"//h"), (id + 1) % 5,
        lit(".example.org/x?k="), id % 9,
        lit("\">l3</a> <a href=\"https://ext.example.net/e/"), id,
        lit("\" rel=\"nofollow noopener\">l4</a> <a href=\"#sec\">l5</a>" +
          "</body></html>"))
      graft.pipeline.WebCuration.linkGraph(
        d.select(page.as("url"), html.as("html")),
        col("url"), col("html"), honorNofollow = false)
    },
    Some("""
      WITH d AS (
        SELECT doc_id AS id, doc_id % 5 AS h, doc_id % 7 = 0 AS pnf
        FROM documents),
      e AS (
        SELECT 'https://h' || h || '.example.org/a/b/page' || id AS src,
               'https://h' || h || '.example.org/a/b/p/' || ((id * 3) % 1000) AS dst,
               'l1' AS anchor, pnf AS nofollow FROM d
        UNION ALL
        SELECT 'https://h' || h || '.example.org/a/b/page' || id,
               'https://h' || h || '.example.org/a/up/' || id, 'l2', pnf FROM d
        UNION ALL
        SELECT 'https://h' || h || '.example.org/a/b/page' || id,
               'https://h' || ((id + 1) % 5) || '.example.org/x?k=' || (id % 9),
               'l3', pnf FROM d
        UNION ALL
        SELECT 'https://h' || h || '.example.org/a/b/page' || id,
               'https://ext.example.net/e/' || id, 'l4', true FROM d)
      SELECT src, dst, anchor, nofollow FROM e
    """))

  /** Integer-exact PageRank over the outlink graph
    * ([[graft.pipeline.LinkRank.integerPageRank]]) — frontier
    * prioritization's centrality signal, in scaled-long floor arithmetic
    * so the iterative result is BIT-EXACT regardless of partitioning
    * (floating-point PageRank sums in partition order; no two runs
    * agree). Same page graph as pq105 with robots directives honored;
    * 5 iterations, damping 85/100, scale 1e12. The dst-only nodes
    * (`/p/`, `/up/`, the `x?k=` hubs) have no out-edges, so the dangling
    * -mass term is exercised every iteration. The oracle UNROLLS the five
    * iterations as staged CTEs (the pq92 Hilbert posture) over the same
    * integer formulas — per-edge `(rank*85) // (100*deg)`, dangling share
    * `(mass*85) // (100*n)`, base `(scale*15) // (100*n)` — so engine
    * agreement proves the iteration exactly, not approximately.
    */
  private def pq106: Q = Q(
    "pq106_link_pagerank",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      val id = col("doc_id")
      val host = concat(lit("https://h"), id % 5, lit(".example.org"))
      val page = concat(host, lit("/a/b/page"), id)
      val html = concat(
        lit("<html><head>"),
        when(id % 7 === 0, lit("""<meta name="robots" content="nofollow">"""))
          .otherwise(lit("")),
        lit("</head><body><a href=\"p/"), (id * 3) % 1000,
        lit("\">l1</a> <a href='../up/"), id,
        lit("'><b>l2</b></a> <a href=\"//h"), (id + 1) % 5,
        lit(".example.org/x?k="), id % 9,
        lit("\">l3</a> <a href=\"https://ext.example.net/e/"), id,
        lit("\" rel=\"nofollow noopener\">l4</a></body></html>"))
      val edges = graft.pipeline.WebCuration.linkGraph(
        d.select(page.as("url"), html.as("html")),
        col("url"), col("html"))
      graft.pipeline.LinkRank.integerPageRank(edges, iterations = 5)
    },
    Some {
      val scale = 1000000000000L
      val iterCtes = (1 to 5).map { i =>
        s"""d$i AS (
          SELECT CAST(coalesce(sum(rank), 0) AS BIGINT) AS dm FROM r${i - 1}
          WHERE node NOT IN (SELECT src FROM e1)),
        r$i AS (
          SELECT n.node,
            CAST((SELECT ($scale * 15) // (100 * n) FROM nn)
              + (SELECT (dm * 85) // (100 * (SELECT n FROM nn)) FROM d$i)
              + coalesce(c.c, 0) AS BIGINT) AS rank
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS node,
                   CAST(sum((r.rank * 85) // (100 * e.deg)) AS BIGINT) AS c
            FROM e JOIN r${i - 1} r ON r.node = e.src
            GROUP BY e.dst) c ON c.node = n.node)"""
      }.mkString(",\n        ")
      s"""
      WITH docs AS (
        SELECT doc_id AS id, doc_id % 5 AS h FROM documents WHERE doc_id % 7 <> 0),
      e0 AS (
        SELECT 'https://h' || h || '.example.org/a/b/page' || id AS src,
               'https://h' || h || '.example.org/a/b/p/' || ((id * 3) % 1000) AS dst
        FROM docs
        UNION ALL
        SELECT 'https://h' || h || '.example.org/a/b/page' || id,
               'https://h' || h || '.example.org/a/up/' || id FROM docs
        UNION ALL
        SELECT 'https://h' || h || '.example.org/a/b/page' || id,
               'https://h' || ((id + 1) % 5) || '.example.org/x?k=' || (id % 9)
        FROM docs),
      e1 AS (SELECT DISTINCT src, dst FROM e0),
      deg AS (SELECT src, count(*) AS deg FROM e1 GROUP BY src),
      e AS (SELECT e1.src, e1.dst, deg.deg FROM e1 JOIN deg ON deg.src = e1.src),
      nodes AS (
        SELECT DISTINCT node FROM (
          SELECT src AS node FROM e1 UNION SELECT dst FROM e1)),
      nn AS (SELECT count(*) AS n FROM nodes),
      r0 AS (
        SELECT node, CAST($scale // (SELECT n FROM nn) AS BIGINT) AS rank
        FROM nodes),
        $iterCtes
      SELECT node, rank FROM r5
      """
    })

  /** In-link anchor-text index
    * ([[graft.pipeline.WebCuration.anchorTextIndex]]) — the off-page
    * description signal: each doc links to two target urls (a same-host
    * topic page keyed by `(id*7)%200` and a cross-host one by
    * `(id*11)%200`) with id-derived anchor text, so targets accumulate
    * MANY in-links with varied anchors. The aggregation must produce,
    * per target: in-link count, distinct referring pages, and the md5 of
    * the SORTED anchor list (sortedness is what makes `collect_list`
    * order-deterministic under any partitioning). Oracle replays the
    * edges from doc_id arithmetic and aggregates with
    * `string_agg(... ORDER BY ...)`. Hash-exact.
    */
  private def pq107: Q = Q(
    "pq107_anchor_text",
    (s, dir) => {
      val d = Tables.spreadForRowWork(Tables.documents(s, dir)) // row work dominates
      val id = col("doc_id")
      val host = concat(lit("https://h"), id % 5, lit(".example.org"))
      val page = concat(host, lit("/page"), id)
      val html = concat(
        lit("<html><body><a href=\"/t/"), (id * 7) % 200,
        lit("\">topic "), (id * 7) % 200,
        lit("</a> <a href=\"//h"), (id + 2) % 5,
        lit(".example.org/t/"), (id * 11) % 200,
        lit("\">cross "), (id * 11) % 200,
        lit("</a></body></html>"))
      val edges = graft.pipeline.WebCuration.linkGraph(
        d.select(page.as("url"), html.as("html")), col("url"), col("html"))
      graft.pipeline.WebCuration.anchorTextIndex(edges)
        .select(col("dst"), col("n_inlinks"), col("n_src"),
          md5(array_join(col("anchors"), " ")).as("anchors_hash"))
    },
    Some("""
      WITH d AS (SELECT doc_id AS id, doc_id % 5 AS h FROM documents),
      e AS (
        SELECT 'https://h' || h || '.example.org/page' || id AS src,
               'https://h' || h || '.example.org/t/' || ((id * 7) % 200) AS dst,
               'topic ' || ((id * 7) % 200) AS anchor FROM d
        UNION ALL
        SELECT 'https://h' || h || '.example.org/page' || id,
               'https://h' || ((id + 2) % 5) || '.example.org/t/' || ((id * 11) % 200),
               'cross ' || ((id * 11) % 200) FROM d)
      SELECT dst,
             CAST(count(*) AS BIGINT) AS n_inlinks,
             CAST(count(DISTINCT src) AS BIGINT) AS n_src,
             md5(string_agg(anchor, ' ' ORDER BY anchor)) AS anchors_hash
      FROM e GROUP BY dst
    """))

  /** The crawl-scheduling FLAGSHIP ([[graft.pipeline.WebCuration.fetchPlan]])
    * — WHEN × WHO × HOW-MUCH composed end to end in one registered plan:
    * the pq106 link graph ranks the targets (integer PageRank, 5
    * iterations), sitemaps advertise those SAME targets with
    * lastmod/changefreq/priority arms (many docs advertise one target, so
    * [[WebCuration.recrawlPriority]]'s dedup aggregation — newest
    * lastmod, most-eager changefreq, highest priority — is exercised for
    * real, unlike pq104's one-entry-per-url shape), crawl state covers
    * 3/4, and the fetch plan boosts staleness by centrality and caps each
    * host at 20 by (priority desc, url). The oracle replays EVERYTHING —
    * the five unrolled integer-PageRank CTEs, the metadata group
    * aggregation, the staleness CASE, the priority formula and the
    * partitioned row_number — from doc_id arithmetic alone. Hash-exact.
    */
  private def pq108: Q = Q(
    "pq108_fetch_plan",
    (s, dir) => {
      import graft.functions.sitemap_entries
      val d = Tables.documents(s, dir)
      val id = col("doc_id")
      val host = concat(lit("https://h"), id % 5, lit(".example.org"))
      val page = concat(host, lit("/a/b/page"), id)
      val html = concat(
        lit("<html><head>"),
        when(id % 7 === 0, lit("""<meta name="robots" content="nofollow">"""))
          .otherwise(lit("")),
        lit("</head><body><a href=\"p/"), (id * 3) % 1000,
        lit("\">l1</a> <a href='../up/"), id,
        lit("'><b>l2</b></a> <a href=\"//h"), (id + 1) % 5,
        lit(".example.org/x?k="), id % 9,
        lit("\">l3</a></body></html>"))
      val edges = graft.pipeline.WebCuration.linkGraph(
        d.select(page.as("url"), html.as("html")), col("url"), col("html"))
      val ranks = graft.pipeline.LinkRank.integerPageRank(edges, iterations = 5)
      val target = concat(host, lit("/a/b/p/"), (id * 3) % 1000)
      val lastmodDate = date_format(
        date_add(to_date(lit("2025-09-01")), (id % 50).cast("int")), "yyyy-MM-dd")
      val freq = element_at(
        typedlit(Seq("always", "hourly", "daily", "weekly", "monthly", "yearly", "never", "")),
        (id % 8).cast("int") + 1)
      val prioStr = element_at(
        typedlit(Seq("", "0.2", "0.4", "0.6", "0.8")), (id % 5).cast("int") + 1)
      val xml = concat(
        lit("<?xml version=\"1.0\"?><urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\"><url><loc>"),
        target, lit("</loc>"),
        when(id % 3 =!= 0, concat(lit("<lastmod>"), lastmodDate, lit("</lastmod>")))
          .otherwise(lit("")),
        when(freq =!= "", concat(lit("<changefreq>"), freq, lit("</changefreq>")))
          .otherwise(lit("")),
        when(prioStr =!= "", concat(lit("<priority>"), prioStr, lit("</priority>")))
          .otherwise(lit("")),
        lit("</url></urlset>"))
      val entries = d
        .select(explode(sitemap_entries(xml)).as("e"))
        .select(
          col("e.loc").as("url"),
          unix_timestamp(to_date(col("e.lastmod"), "yyyy-MM-dd")).as("lastmod_sec"),
          col("e.changefreq").as("changefreq"),
          col("e.priority").as("priority"))
      val state = d.where(id % 4 =!= 0).select(
        target.as("url"),
        (lit(1760000000L) - (id % 100 + 1) * 86400L).as("last_fetch_sec"))
      val revisit = graft.pipeline.WebCuration.recrawlPriority(
        entries, state, nowSec = 1760000000L)
      graft.pipeline.WebCuration.fetchPlan(revisit, ranks, perHostCap = 20)
    },
    Some {
      val scale = 1000000000000L
      val iterCtes = (1 to 5).map { i =>
        s"""d$i AS (
          SELECT CAST(coalesce(sum(rank), 0) AS BIGINT) AS dm FROM r${i - 1}
          WHERE node NOT IN (SELECT src FROM e1)),
        r$i AS (
          SELECT n.node,
            CAST((SELECT ($scale * 15) // (100 * n) FROM nn)
              + (SELECT (dm * 85) // (100 * (SELECT n FROM nn)) FROM d$i)
              + coalesce(c.c, 0) AS BIGINT) AS rank
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS node,
                   CAST(sum((r.rank * 85) // (100 * e.deg)) AS BIGINT) AS c
            FROM e JOIN r${i - 1} r ON r.node = e.src
            GROUP BY e.dst) c ON c.node = n.node)"""
      }.mkString(",\n        ")
      s"""
      WITH docs AS (
        SELECT doc_id AS id, doc_id % 5 AS h FROM documents WHERE doc_id % 7 <> 0),
      e0 AS (
        SELECT 'https://h' || h || '.example.org/a/b/page' || id AS src,
               'https://h' || h || '.example.org/a/b/p/' || ((id * 3) % 1000) AS dst
        FROM docs
        UNION ALL
        SELECT 'https://h' || h || '.example.org/a/b/page' || id,
               'https://h' || h || '.example.org/a/up/' || id FROM docs
        UNION ALL
        SELECT 'https://h' || h || '.example.org/a/b/page' || id,
               'https://h' || ((id + 1) % 5) || '.example.org/x?k=' || (id % 9)
        FROM docs),
      e1 AS (SELECT DISTINCT src, dst FROM e0),
      deg AS (SELECT src, count(*) AS deg FROM e1 GROUP BY src),
      e AS (SELECT e1.src, e1.dst, deg.deg FROM e1 JOIN deg ON deg.src = e1.src),
      nodes AS (
        SELECT DISTINCT node FROM (
          SELECT src AS node FROM e1 UNION SELECT dst FROM e1)),
      nn AS (SELECT count(*) AS n FROM nodes),
      r0 AS (
        SELECT node, CAST($scale // (SELECT n FROM nn) AS BIGINT) AS rank
        FROM nodes),
        $iterCtes,
      sm AS (
        SELECT
          'https://h' || (doc_id % 5) || '.example.org/a/b/p/' || ((doc_id * 3) % 1000) AS url,
          CASE WHEN doc_id % 3 <> 0
               THEN 1756684800 + (doc_id % 50) * 86400 END AS lastmod_sec,
          CASE (['always','hourly','daily','weekly','monthly','yearly','never',NULL])[(doc_id % 8) + 1]
               WHEN 'always' THEN 3600 WHEN 'hourly' THEN 3600
               WHEN 'daily' THEN 86400 WHEN 'weekly' THEN 604800
               WHEN 'monthly' THEN 2592000 WHEN 'yearly' THEN 31536000
               WHEN 'never' THEN NULL ELSE 604800 END AS ivl,
          CASE WHEN doc_id % 5 <> 0 THEN CAST(doc_id % 5 AS DOUBLE) / 5.0 END AS prio
        FROM documents),
      agg AS (
        SELECT url AS canon_url, max(lastmod_sec) AS lastmod,
               min(ivl) AS ivl, max(prio) AS prio
        FROM sm GROUP BY url),
      st AS (
        SELECT 'https://h' || (doc_id % 5) || '.example.org/a/b/p/' || ((doc_id * 3) % 1000) AS canon_url,
               max(1760000000 - (doc_id % 100 + 1) * 86400) AS last_fetch
        FROM documents WHERE doc_id % 4 <> 0 GROUP BY 1),
      rev AS (
        SELECT a.canon_url,
          (a.lastmod IS NOT NULL AND s.last_fetch IS NOT NULL
             AND a.lastmod > s.last_fetch) AS known_changed,
          CASE WHEN s.last_fetch IS NULL THEN 4.0
               WHEN (a.lastmod IS NOT NULL AND s.last_fetch IS NOT NULL
                     AND a.lastmod > s.last_fetch) THEN 4.0
               WHEN a.ivl IS NULL THEN 0.0
               ELSE least(4.0, round((1760000000 - s.last_fetch) / CAST(a.ivl AS DOUBLE), 6))
          END AS staleness,
          coalesce(a.prio, 0.5) AS base
        FROM agg a LEFT JOIN st s ON s.canon_url = a.canon_url),
      sc AS (
        SELECT canon_url, known_changed,
               round(base * staleness, 6) AS score FROM rev),
      fp AS (
        SELECT sc.canon_url, sc.known_changed,
          round(sc.score * (1 + CAST(coalesce(r.rank, 0) AS DOUBLE) / 1000000000000.0), 6)
            AS priority
        FROM sc LEFT JOIN r5 r ON r.node = sc.canon_url),
      hh AS (
        SELECT canon_url, regexp_extract(canon_url, 'https://([^/]+)/', 1) AS host,
               known_changed, priority
        FROM fp),
      rk AS (
        SELECT canon_url, host, known_changed, priority,
          CAST(row_number() OVER (
            PARTITION BY host ORDER BY priority DESC, canon_url) AS INT) AS fetch_rank
        FROM hh)
      SELECT canon_url, host, known_changed, priority, fetch_rank
      FROM rk WHERE fetch_rank <= 20
      """
    })

  /** The CDX-style WARC record index ([[graft.sources.warc.WarcIndex]]) —
    * the (url → file, pos, sub) random-access companion every real WARC
    * archive ships beside its segments. Documents land as per-record-gzip
    * response records (the Common Crawl shape), ONE distributed scan
    * builds the index, and the oracle hash-checks the index TABLE itself:
    * canonical URL (the synthesized URLs are canonicalizer fixed points),
    * record id, type, block length, payload md5. The (file, pos, sub)
    * coordinates are layout-dependent and are asserted by WarcIndexSpec's
    * point-fetch instead (every coordinate must read back its exact
    * record with single-record I/O).
    */
  private def pq100: Q = Q(
    "pq100_warc_index",
    (s, dir) => {
      val tmp = graft.Tables.scratchDir("pq100")
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("text"))
        .repartition(8, col("doc_id"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val recs = it.map { r =>
            val id = r.getAs[Long]("doc_id")
            (Seq(
              "WARC-Type" -> "response",
              "WARC-Record-ID" -> s"<urn:graft:doc:$id>",
              "WARC-Target-URI" -> s"https://docs.example.com/${r.getAs[String]("lang")}/$id",
              "WARC-Date" -> "2026-01-02T03:04:05Z"),
              r.getAs[String]("text").getBytes("UTF-8"))
          }.toSeq
          if (recs.nonEmpty)
            graft.sources.warc.GraftWarc.writeGz(tmp, f"part-$pid%03d.warc.gz", recs)
        }
      graft.sources.warc.WarcIndex.build(s, tmp, includeDigest = true)
        .select(col("url_canon"), col("record_id"), col("warc_type"),
          col("content_length"), col("digest"))
    },
    Some("""
      SELECT 'https://docs.example.com/' || lang || '/' || doc_id AS url_canon,
             '<urn:graft:doc:' || doc_id || '>' AS record_id,
             'response' AS warc_type,
             CAST(strlen(text) AS BIGINT) AS content_length,
             md5(text) AS digest
      FROM documents
    """))

  /** Sitemap parsing ([[graft.functions.sitemap_urls]] /
    * [[graft.functions.sitemap_children]]) — all three sitemaps.org
    * formats, one per arm (doc_id % 3): a `<sitemapindex>` (entries are
    * CHILD sitemaps, not pages), a `<urlset>` with entity-escaped `&amp;`
    * and padded `<loc>` whitespace the parser must strip, and a
    * plain-text one-URL-per-line document. The oracle computes the
    * expected URL lists directly from the same doc_id formulas (the
    * wrap-then-recover pattern — extraction must be exact inversion).
    * Frontier seeding over these urls is UrlCurationSpec's case; this row
    * pins the extraction.
    */
  private def pq101: Q = Q(
    "pq101_sitemap_seed",
    (s, dir) => {
      import graft.functions.{sitemap_children, sitemap_urls}
      val d = Tables.documents(s, dir)
      val id = col("doc_id")
      val arm = (id % 3).cast("int")
      val host = concat(lit("https://s"), id % 7, lit(".example.com"))
      val urlsArr = transform(sequence(lit(1L), id % 4 + 1),
        k => concat(host, lit("/p/"), id, lit("/"), k, lit("?a=1&b=2")))
      val urlsetXml = concat(
        lit("<?xml version=\"1.0\"?>\n<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n"),
        array_join(transform(urlsArr, u => concat(
          lit("  <url><loc> "), regexp_replace(u, "&", "&amp;"), lit(" </loc></url>"))), "\n"),
        lit("\n</urlset>"))
      val indexXml = concat(
        lit("<?xml version=\"1.0\"?><sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"),
        lit("<sitemap><loc>"), host, lit("/sitemap-1.xml</loc></sitemap>"),
        lit("<sitemap><loc>"), host, lit("/sitemap-2.xml</loc></sitemap>"),
        lit("</sitemapindex>"))
      val textDoc = array_join(urlsArr, "\n")
      val doc = when(arm === 0, indexXml).when(arm === 1, urlsetXml).otherwise(textDoc)
      d.select(id, sitemap_urls(doc).as("pages"), sitemap_children(doc).as("children"))
        .select(id,
          size(col("pages")).as("n_pages"),
          size(col("children")).as("n_children"),
          md5(array_join(concat(col("pages"), col("children")), " ")).as("urls_hash"))
    },
    Some("""
      WITH p AS (
        SELECT doc_id, CAST(doc_id % 3 AS INT) AS arm,
               CAST(doc_id % 4 + 1 AS BIGINT) AS n,
               'https://s' || (doc_id % 7) || '.example.com' AS host
        FROM documents),
      u AS (
        SELECT doc_id, arm,
          CASE WHEN arm = 0
               THEN [host || '/sitemap-1.xml', host || '/sitemap-2.xml']
               ELSE list_transform(generate_series(1, n),
                      k -> host || '/p/' || doc_id || '/' || k || '?a=1&b=2') END AS urls
        FROM p)
      SELECT doc_id,
             CAST(CASE WHEN arm = 0 THEN 0 ELSE len(urls) END AS INT) AS n_pages,
             CAST(CASE WHEN arm = 0 THEN len(urls) ELSE 0 END AS INT) AS n_children,
             md5(array_to_string(urls, ' ')) AS urls_hash
      FROM u
    """))

  /** Mojibake repair (plans.FixMojibake — the ftfy round-trip over
    * Windows-1252, with the strictness/shrink/plausibility acceptance):
    * per doc, a deterministically chosen suffix family — single mojibake,
    * DOUBLE mojibake, clean accented text, the SÃO abort case, the CJK
    * plausibility-reject case, plain ASCII — appended to the text; the
    * operator must repair exactly the repairable families and pass the
    * rest through byte-identically. The oracle pins every family's
    * expected repaired form as a chr()-literal (the pq91 punycode-pinning
    * posture — DuckDB has no charset transcoding), so the transcode
    * behavior is pinned to the published 1252/UTF-8 tables. Hash-exact on
    * (doc_id, changed, fixed-suffix md5).
    */
  private def pq96: Q = Q(
    "pq96_fix_mojibake",
    (s, dir) => {
      val d  = Tables.documents(s, dir)
      val id = col("doc_id")
      // scala string literals hold the mojibake forms via unicode escapes
      val suffix = when(id % 6 === 0, lit(" cafÃ©"))           // cafÃ©
        .when(id % 6 === 1, lit(" donâ€™t"))              // donâ€™t
        .when(id % 6 === 2, lit(" cafÃƒÂ©"))         // double: cafÃƒÂ©
        .when(id % 6 === 3, lit(" SÃO PAULO"))                      // abort case
        .when(id % 6 === 4, lit(" dä—“"))                 // plausibility reject
        .otherwise(lit(" plain."))
      d.select(id,
          graft.functions.fix_mojibake(concat(col("text"), suffix)).as("fixed"),
          concat(col("text"), suffix).as("orig"))
        .select(id,
          (col("fixed") =!= col("orig")).as("changed"),
          md5(col("fixed")).as("fixed_hash"))
    },
    Some("""
      WITH t AS (
        SELECT doc_id, text,
          CASE
            WHEN doc_id % 6 = 0 THEN ' caf' || chr(195) || chr(169)
            WHEN doc_id % 6 = 1 THEN ' don' || chr(226) || chr(8364) || chr(8482) || 't'
            WHEN doc_id % 6 = 2 THEN ' caf' || chr(195) || chr(402) || chr(194) || chr(169)
            WHEN doc_id % 6 = 3 THEN ' S' || chr(195) || 'O PAULO'
            WHEN doc_id % 6 = 4 THEN ' d' || chr(228) || chr(8212) || chr(8220)
            ELSE ' plain.'
          END AS suf,
          CASE
            WHEN doc_id % 6 = 0 THEN ' caf' || chr(233)
            WHEN doc_id % 6 = 1 THEN ' don' || chr(8217) || 't'
            WHEN doc_id % 6 = 2 THEN ' caf' || chr(233)
            WHEN doc_id % 6 = 3 THEN ' S' || chr(195) || 'O PAULO'
            WHEN doc_id % 6 = 4 THEN ' d' || chr(228) || chr(8212) || chr(8220)
            ELSE ' plain.'
          END AS fixed_suf
        FROM documents)
      SELECT doc_id, (suf <> fixed_suf) AS changed,
             md5(text || fixed_suf) AS fixed_hash
      FROM t
    """))

  /** The [[graft.pipeline.Psl.sample]] rule table as SQL VALUES rows — the
    * pq90 oracle matches against the SAME parsed constants the Spark plan
    * broadcasts.
    */
  private def oPslRules: String =
    graft.pipeline.Psl.sample.rules
      .map(r => s"('${r.key}', ${r.kind}, ${r.nlabels})").mkString(", ")

  /** URL equivalence classes real crawls hit (RFC 3986 §6.2.2): per doc,
    * 3 ASCII twins of one logical URL — percent-encoded unreserved
    * (`%7E`), decoded (`~`), lowercase-hex + www + default port +
    * tracking + fragment — plus, for docs ≡ 0 mod 5, a Unicode-host /
    * punycode-host twin pair. All twins of a class MUST collapse to ONE
    * canonical key (n_keys counts classes per doc: 1, or 2 with the IDN
    * pair). The oracle replays the percent chain from the shared tables
    * and pins the IDN fold with the literal punycode constant
    * (RFC 3492: münchen → xn--mnchen-3ya).
    */
  private def pq91: Q = Q(
    "pq91_url_equivalence",
    (s, dir) => {
      val d  = Tables.documents(s, dir)
      val id = col("doc_id")
      val t1 = concat(lit("https://Site"), id % 7,
        lit(".Example.COM/p%7Ev/a%2Fb%3a/"), id, lit("?id="), id)
      val t2 = concat(lit("https://site"), id % 7,
        lit(".example.com/p~v/a%2Fb%3A/"), id, lit("?id="), id)
      val t3 = concat(lit("https://www.site"), id % 7,
        lit(".example.com:443/p%7ev/a%2fb%3A/"), id,
        lit("/?id="), id, lit("&utm_source=x#f"))
      val t4 = concat(lit("https://münchen.example/doc/"), id)
      val t5 = concat(lit("https://xn--mnchen-3ya.example/doc/"), id)
      val urls = when(id % 5 === 0, array(t1, t2, t3, t4, t5))
        .otherwise(array(t1, t2, t3))
      d.select(id, explode(urls).as("u"))
        .select(id, UrlFunctions.url_canonicalize(col("u")).as("k"))
        .groupBy(col("doc_id"))
        .agg(count_distinct(col("k")).as("n_keys"), min(col("k")).as("min_key"))
    },
    Some(s"""
      WITH u0 AS (
        SELECT doc_id,
          CASE WHEN doc_id % 5 = 0 THEN [
            'https://Site' || (doc_id % 7) || '.Example.COM/p%7Ev/a%2Fb%3a/' || doc_id || '?id=' || doc_id,
            'https://site' || (doc_id % 7) || '.example.com/p~v/a%2Fb%3A/' || doc_id || '?id=' || doc_id,
            'https://www.site' || (doc_id % 7) || '.example.com:443/p%7ev/a%2fb%3A/' || doc_id || '/?id=' || doc_id || '&utm_source=x#f',
            'https://münchen.example/doc/' || doc_id,
            'https://xn--mnchen-3ya.example/doc/' || doc_id]
          ELSE [
            'https://Site' || (doc_id % 7) || '.Example.COM/p%7Ev/a%2Fb%3a/' || doc_id || '?id=' || doc_id,
            'https://site' || (doc_id % 7) || '.example.com/p~v/a%2Fb%3A/' || doc_id || '?id=' || doc_id,
            'https://www.site' || (doc_id % 7) || '.example.com:443/p%7ev/a%2fb%3A/' || doc_id || '/?id=' || doc_id || '&utm_source=x#f']
          END AS us
        FROM documents),
      ex AS (SELECT doc_id, unnest(us) AS u FROM u0),
      c7 AS (SELECT doc_id, ${oPct("u")} AS cu2 FROM ex),
      c8 AS (SELECT doc_id, ${oCanon("cu2")} AS cu7 FROM c7),
      ck AS (SELECT doc_id, replace(cu7,
               '://münchen.example/', '://xn--mnchen-3ya.example/') AS k
             FROM c8)
      SELECT doc_id, CAST(count(DISTINCT k) AS BIGINT) AS n_keys,
             min(k) AS min_key
      FROM ck GROUP BY doc_id
    """))

  /** The crawl-front flagship keyed on the FULL PSL (curateCrawl with
    * `psl = Some(Psl.sample)`): messy URL forms over hosts that exercise
    * the exception rule (`!city.kawasaki.jp` — the BLOCKED registrable
    * domain), the wildcard rule (`*.kawasaki.jp` — each sub-registry caps
    * separately, the under-split the heuristic form gets wrong), a
    * 2-label ccTLD registry and an unlisted TLD. The oracle chains the
    * full canonicalize replay, the PSL longest-match logic (same rules
    * CTE as pq90), the dedup election, the blocklist and the capped
    * ranking.
    */
  private def pq93: Q = Q(
    "pq93_psl_crawl_curation",
    (s, dir) => {
      import s.implicits._
      val d  = Tables.documents(s, dir)
      val id = col("doc_id")
      val url = when(id % 4 === 0, concat(
          lit("https://WWW.a"), id, lit(".CITY.Kawasaki.JP:443/p/"), id,
          lit("?utm_source=x")))
        .when(id % 4 === 1, concat(
          lit("http://sub.h"), id % 3, lit(".kawasaki.jp:80/q?id="), id,
          lit("&fbclid=z"), id))
        .when(id % 4 === 2, concat(lit("https://b"), id, lit(".example.co.uk/")))
        .otherwise(concat(
          lit("https://www.docs.example.zz/g?page="), id % 20,
          lit("&utm_campaign=x")))
      WebCuration.curateCrawl(
        d.withColumn("url", url), id, col("url"),
        TextFunctions.quality_score(col("text")),
        Seq("city.kawasaki.jp").toDF("domain"), cap = 10,
        psl = Some(graft.pipeline.Psl.sample))
    },
    Some(s"""
      WITH rules(key, kind, nl) AS (VALUES $oPslRules),
      u0 AS (
        SELECT doc_id, text,
          CASE
            WHEN doc_id % 4 = 0 THEN 'https://WWW.a' || doc_id || '.CITY.Kawasaki.JP:443/p/' || doc_id || '?utm_source=x'
            WHEN doc_id % 4 = 1 THEN 'http://sub.h' || (doc_id % 3) || '.kawasaki.jp:80/q?id=' || doc_id || '&fbclid=z' || doc_id
            WHEN doc_id % 4 = 2 THEN 'https://b' || doc_id || '.example.co.uk/'
            ELSE 'https://www.docs.example.zz/g?page=' || (doc_id % 20) || '&utm_campaign=x'
          END AS url
        FROM documents),
      c7 AS (SELECT doc_id, text, ${oPct("url")} AS cu2 FROM u0),
      c8 AS (SELECT doc_id, text, ${oCanon("cu2")} AS canon_url FROM c7),
      hn AS (SELECT *, lower(regexp_extract(canon_url, '$hostRe', 1)) AS h FROM c8),
      hp AS (SELECT doc_id, text, canon_url, h, p, len(p) AS n
             FROM (SELECT *, string_split(h, '.') AS p FROM hn)),
      mm AS (SELECT *,
        (SELECT max(nl) FROM rules r WHERE r.kind = 2 AND r.nl <= n
           AND r.key = array_to_string(list_slice(p, n - r.nl + 1, n), '.')) AS exc,
        (SELECT max(nl) FROM rules r WHERE r.kind = 0 AND r.nl <= n
           AND r.key = array_to_string(list_slice(p, n - r.nl + 1, n), '.')) AS nrm,
        (SELECT max(nl) FROM rules r WHERE r.kind = 1 AND r.nl <= n
           AND r.key = '*.' || array_to_string(list_slice(p, n - r.nl + 2, n), '.')) AS wld
        FROM hp),
      rd AS (SELECT doc_id, text, canon_url,
               CASE WHEN n > kk THEN array_to_string(list_slice(p, n - kk, n), '.')
                    ELSE h END AS domain
             FROM (SELECT *,
                     CASE WHEN exc IS NOT NULL THEN exc - 1
                          WHEN nrm IS NULL AND wld IS NULL THEN 1
                          ELSE greatest(coalesce(nrm, 0), coalesce(wld, 0)) END AS kk
                   FROM mm)),
      ded AS (
        SELECT r.* FROM rd r
        JOIN (SELECT md5(canon_url) AS uh, min(doc_id) AS kid
              FROM rd GROUP BY 1) k
          ON md5(r.canon_url) = k.uh AND r.doc_id = k.kid),
      blk AS (SELECT * FROM ded WHERE domain NOT IN ('city.kawasaki.jp')),
      sc AS (
        SELECT doc_id, domain, canon_url, $oQualityScore AS score
        FROM (SELECT doc_id, domain, canon_url, text,
                     string_split(text, ' ') AS toks FROM blk)),
      tot AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_total
              FROM sc GROUP BY 1),
      rk AS (
        SELECT doc_id, domain, canon_url, score,
               row_number() OVER (PARTITION BY domain
                                  ORDER BY score DESC, doc_id) AS rnk
        FROM sc)
      SELECT r.domain, CAST(r.rnk AS INT) AS rank, r.doc_id, r.score,
             t.n_total, r.canon_url
      FROM rk r JOIN tot t USING (domain)
      WHERE r.rnk <= 10
    """))

  /** ONE source of truth for pq94: per synthetic host family, the
    * robots.txt TEXT the Spark side parses and the rule group the oracle
    * materializes literally — the parser↔rules linkage itself is pinned by
    * RobotsSpec's fuzz against an independent reference.
    */
  // def, not val: `all` initializes first and would read a null forward ref
  private def RobotsFamilies: Seq[(Int, String, Seq[(Boolean, String)])] = Seq(
    (0, "User-agent: graftbot\nDisallow: /private/\nAllow: /private/ok$\nUser-agent: *\nDisallow: /",
      Seq((false, "/private/"), (true, "/private/ok$"))),
    (1, "User-agent: *\nDisallow: /tmp/*\nDisallow: /*.gif$\n# comment\nCrawl-delay: 5",
      Seq((false, "/tmp/*"), (false, "/*.gif$"))),
    (2, "User-agent: otherbot\nDisallow: /", Seq.empty),
    (3, "# comments only\nSitemap: https://example.com/s.xml", Seq.empty),
    (4, "User-agent: graftbot\nAllow: /a\nDisallow: /a*b$",
      Seq((true, "/a"), (false, "/a*b$"))))

  /** RFC 9309 robots gate (graft.plans.RobotsRules/RobotsDecision +
    * WebCuration.robotsGate): 5 robots.txt families — matching group,
    * `*` fallback, non-matching group, comments-only, wildcard/anchor
    * precedence — against 8 path families. The Spark side PARSES the
    * text natively and decides per longest-match; the oracle carries the
    * rule groups as literals from the SAME constant and replays the
    * longest-match with `*`→`%` LIKE translation and `$`-anchor
    * semantics. Hash-exact per (doc, path): rule count + verdict.
    */
  private def pq94: Q = Q(
    "pq94_robots_gate",
    (s, dir) => {
      val d  = Tables.documents(s, dir)
      val id = col("doc_id")
      val robots = RobotsFamilies.tail.foldLeft(
        when(id % 5 === RobotsFamilies.head._1, lit(RobotsFamilies.head._2))) {
        case (acc, (k, txt, _)) => acc.when(id % 5 === k, lit(txt))
      }
      val path = when(id % 8 === 0, concat(lit("/private/x"), id))
        .when(id % 8 === 1, lit("/private/ok"))
        .when(id % 8 === 2, concat(lit("/tmp/q"), id))
        .when(id % 8 === 3, concat(lit("/img/"), id, lit(".gif")))
        .when(id % 8 === 4, concat(lit("/a"), id, lit("b")))
        .when(id % 8 === 5, lit("/a/plain"))
        .when(id % 8 === 6, concat(lit("/open/"), id))
        .otherwise(lit("/axxb"))
      d.select(id, path.as("path"),
          graft.functions.robots_rules(robots, "graftbot").as("__rules"))
        .select(id, col("path"),
          size(col("__rules")).cast("long").as("n_rules"),
          graft.functions.robots_allowed(col("path"), col("__rules")).as("allowed"))
    },
    Some {
      def sqlRules(rs: Seq[(Boolean, String)]): String =
        if (rs.isEmpty) "CAST([] AS STRUCT(allow BOOLEAN, lp VARCHAR, anch BOOLEAN, plen BIGINT)[])"
        else rs.map { case (allow, pat) =>
          val anch = pat.endsWith("$")
          val body = (if (anch) pat.dropRight(1) else pat).replace("*", "%")
          s"{'allow': $allow, 'lp': '$body', 'anch': $anch, 'plen': ${pat.length}}"
        }.mkString("[", ", ", "]")
      val rulesCase = RobotsFamilies.map { case (k, _, rs) =>
        s"WHEN doc_id % 5 = $k THEN ${sqlRules(rs)}"
      }.mkString("CASE ", " ", " END")
      s"""
      WITH f AS (
        SELECT doc_id,
          CASE
            WHEN doc_id % 8 = 0 THEN '/private/x' || doc_id
            WHEN doc_id % 8 = 1 THEN '/private/ok'
            WHEN doc_id % 8 = 2 THEN '/tmp/q' || doc_id
            WHEN doc_id % 8 = 3 THEN '/img/' || doc_id || '.gif'
            WHEN doc_id % 8 = 4 THEN '/a' || doc_id || 'b'
            WHEN doc_id % 8 = 5 THEN '/a/plain'
            WHEN doc_id % 8 = 6 THEN '/open/' || doc_id
            ELSE '/axxb'
          END AS path,
          $rulesCase AS rules
        FROM documents),
      m AS (
        SELECT doc_id, path, rules,
          list_filter(rules, r -> CASE WHEN r.anch
            THEN path LIKE r.lp
            ELSE path LIKE (r.lp || '%') END) AS hits
        FROM f)
      SELECT doc_id, path,
        CAST(len(rules) AS BIGINT) AS n_rules,
        CASE WHEN len(hits) = 0 THEN true
             ELSE len(list_filter(hits, r -> r.allow AND
               r.plen = list_max(list_transform(hits, x -> x.plen)))) > 0
        END AS allowed
      FROM m
    """
    })

  /** Shared oracle fragment (pq86/pq88): the full crawl-front stage
    * chain — URL synthesis, canonicalize, domain, dedup election,
    * blocklist, line synthesis, C4 clean + page gate (`pg`), Gopher
    * metrics + gate (`gpass`). Splice after `WITH `.
    */
  private def oCrawlStages: String = s"""u0 AS (
          SELECT doc_id, text,
            CASE
              WHEN doc_id % 4 = 0 THEN 'https://WWW.News.Example.CO.UK:443/Story/' || doc_id || '/?utm_source=rss&utm_medium=feed'
              WHEN doc_id % 4 = 1 THEN 'HTTP://Blog.Example.COM:80/posts/' || (doc_id % 50) || '?id=' || (doc_id % 50) || '&fbclid=abc' || doc_id || '#section2'
              WHEN doc_id % 4 = 2 THEN 'https://spam.tracker.biz/offer/' || (doc_id % 10) || '/'
              ELSE 'https://docs.example.com/guide?page=' || (doc_id % 20) || '&utm_campaign=x&ref_src=tw'
            END AS url
          FROM documents),
        c7 AS (SELECT doc_id, text, ${oPct("url")} AS cu2 FROM u0),
        c8 AS (SELECT doc_id, text, ${oCanon("cu2")} AS canon_url FROM c7),
        hn AS (SELECT *, lower(regexp_extract(canon_url, '$hostRe', 1)) AS h FROM c8),
        rd AS (SELECT doc_id, text, canon_url,
                      ${oDomain("h", "p")} AS domain
               FROM (SELECT *, string_split(h, '.') AS p FROM hn)),
        ded AS (
          SELECT r.* FROM rd r
          JOIN (SELECT md5(canon_url) AS uh, min(doc_id) AS kid
                FROM rd GROUP BY 1) k
            ON md5(r.canon_url) = k.uh AND r.doc_id = k.kid),
        blk AS (SELECT * FROM ded WHERE domain NOT IN ('tracker.biz')),
        t0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM blk),
        l0 AS (SELECT doc_id,
                 list_transform(generate_series(0, CAST((len(toks) + 5) // 6 - 1 AS BIGINT)),
                   i -> array_to_string(list_slice(toks, i*6 + 1, i*6 + 6), ' ')) AS lines0
               FROM t0),
        p0 AS (SELECT doc_id,
                 list_transform(lines0, (l, i) ->
                   CASE WHEN (i-1) % 3 = 2 THEN l ELSE l || '.' END) AS lns
               FROM l0),
        j0 AS (SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0
                      THEN list_concat(['You must enable JavaScript to view this page.'], lns)
                      ELSE lns END AS lns FROM p0),
        b0 AS (SELECT doc_id,
                 CASE WHEN doc_id % 11 = 0
                      THEN list_concat(lns, ['if (x) { return; }'])
                      ELSE lns END AS lns FROM j0),
        m0 AS (SELECT doc_id,
                 CASE WHEN doc_id % 13 = 0
                      THEN list_concat(lns, ['Lorem ipsum dolor sit amet consectetur adipiscing elit.'])
                      ELSE lns END AS lns FROM b0),
        d2 AS (SELECT doc_id, array_to_string(lns, chr(10)) AS doc FROM m0),
        k2 AS (SELECT doc_id, doc,
                list_filter(string_split(doc, chr(10)), l ->
                  regexp_matches(l, '[.!?"]$$')
                  AND len(list_filter(string_split(l, ' '), w -> len(w) > 0)) >= 5
                  AND NOT contains(lower(l), 'javascript')) AS kept
              FROM d2),
        pg AS (SELECT doc_id, array_to_string(kept, chr(10)) AS clean
               FROM k2
               WHERE NOT contains(lower(doc), 'lorem ipsum')
                 AND NOT contains(doc, '{') AND len(kept) >= 3),
        gw AS (SELECT doc_id, clean,
                 list_filter(string_split(replace(clean, chr(10), ' '), ' '), x -> len(x) > 0) AS words,
                 list_filter(string_split(clean, chr(10)), x -> len(x) > 0) AS lines
               FROM pg),
        gm AS (SELECT doc_id,
          CAST(len(words) AS BIGINT) AS n_words,
          round(CAST(coalesce(list_sum(list_transform(words, x -> len(x))), 0) AS DOUBLE)
                / greatest(len(words), 1), 6) AS mean_word_len,
          round(CAST(length(clean) - length(translate(clean, '#', '')) AS DOUBLE)
                / greatest(len(words), 1), 6) AS hash_ratio,
          round(CAST((length(clean) - length(replace(clean, '...', ''))) // 3
                     + length(clean) - length(translate(clean, '…', '')) AS DOUBLE)
                / greatest(len(words), 1), 6) AS ellipsis_ratio,
          round(CAST(len(list_filter(lines, l -> starts_with(l, '- ')
                     OR starts_with(l, '* ') OR starts_with(l, '• '))) AS DOUBLE)
                / greatest(len(lines), 1), 6) AS bullet_frac,
          round(CAST(len(list_filter(lines, l -> l LIKE '%...' OR l LIKE '%…')) AS DOUBLE)
                / greatest(len(lines), 1), 6) AS ellipsis_line_frac,
          round(CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                / greatest(len(words), 1), 6) AS alpha_word_frac,
          CAST(len(list_intersect(list_distinct(words),
               ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_stopwords,
          round(CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
                / greatest(len(lines), 1), 6) AS dup_line_frac,
          round(CAST(coalesce(list_sum(list_transform(lines, x -> len(x))), 0)
                     - coalesce(list_sum(list_transform(list_distinct(lines), x -> len(x))), 0) AS DOUBLE)
                / greatest(coalesce(list_sum(list_transform(lines, x -> len(x))), 0), 1), 6) AS dup_line_char_frac
        FROM gw),
        gpass AS (SELECT doc_id FROM gm
          WHERE (n_words BETWEEN 10 AND 100000)
            AND (mean_word_len BETWEEN 3.0 AND 10.0)
            AND (hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1)
            AND (bullet_frac <= 0.9) AND (ellipsis_line_frac <= 0.3)
            AND (alpha_word_frac >= 0.8) AND (n_stopwords >= 1)
            AND (dup_line_frac <= 0.3 AND dup_line_char_frac <= 0.2))"""

  private def oQualityScore: String = PipelineQueries.oQualityScore
}
