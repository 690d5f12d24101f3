package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URL normalization for crawl curation — the stage every web-scale training
  * pipeline runs FIRST, before any content is fetched or scored: canonicalize
  * the URL, extract the registrable domain, and decide at URL granularity
  * (dedup, blocklists, per-domain caps). C4, RefinedWeb and FineWeb all
  * document URL filtering/dedup ahead of text processing because it is the
  * only filter that costs zero bytes of document I/O.
  *
  * Everything here is a row-local Column expression over the Java∩RE2 regex
  * subset (the pq37/pq73 discipline), so the DuckDB oracle replays each step
  * from the same pattern constants — one pattern source, two engines.
  * Zero shuffle, codegen'd, stream-safe.
  */
object UrlFunctions {

  /** `scheme://[userinfo@]host[:port]` — the authority prefix of a URL. */
  val AuthorityPrefixRe = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*"

  /** Host capture inside the authority (group 1), skipping userinfo/port. */
  val HostRe = "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)"

  /** Tracking query parameters stripped by [[url_canonicalize]]: the
    * published analytics/click-id families (utm_*, Facebook, Google,
    * Microsoft, Mailchimp, Instagram, Twitter). Keeps the `[?&]` separator
    * as group 1 so adjacent survivors re-attach; a collapse pass then fixes
    * `?&`/`&&` runs.
    */
  val TrackingParamRe =
    "([?&])(utm_[a-z0-9_]*|fbclid|gclid|msclkid|mc_cid|mc_eid|igshid|ref_src)=[^&#]*"

  /** Multi-label public suffixes recognized by [[url_registrable_domain]].
    * A pinned subset of the Mozilla Public Suffix List covering the common
    * ccTLD second-level registries. This column form is BY DESIGN a
    * heuristic bounded to 2-label suffixes (last two labels elsewhere); the
    * production form with the full published algorithm — longest match,
    * wildcard (`*.ck`) and exception (`!www.ck`) rules, 3-to-5-label
    * suffixes, parsed from the real publicsuffix.org file — is
    * [[graft.pipeline.Psl]] (broadcast-join plan, oracle-checked by pq90).
    */
  val MultiLabelSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.nz", "org.nz", "net.nz",
    "com.br", "net.br", "org.br",
    "com.cn", "net.cn", "org.cn", "gov.cn",
    "com.tw", "org.tw",
    "co.in", "net.in", "org.in",
    "com.mx", "com.ar", "com.sg", "com.hk", "com.my",
    "co.kr", "or.kr", "co.za", "com.tr", "com.pl")

  /** The 66 RFC 3986 §2.3 unreserved characters — percent-encoding them
    * never changes meaning, so canonicalization DECODES them (§6.2.2.2).
    */
  val UnreservedChars: Seq[Char] =
    (('0' to '9') ++ ('A' to 'Z') ++ ('a' to 'z')) ++ Seq('-', '.', '_', '~')

  /** `"41" -> "A"`-style decode table for [[percent_normalize]]; the pq91
    * oracle's strpos tables are emitted from the same constant.
    */
  val UnreservedByHex: Map[String, String] =
    UnreservedChars.map(c => f"${c.toInt}%02X" -> c.toString).toMap

  /** RFC 3986 §6.2.2 percent-encoding normalization, row-local:
    * uppercase the hex digits of every valid `%XX` triplet (§6.2.2.1) and
    * decode triplets whose octet is an unreserved character (§6.2.2.2) —
    * `%7E` ≡ `%7e` ≡ `~`, `%41` ≡ `A`. Reserved octets (`%2F`, `%3A`, …)
    * are NOT decoded (that would change URL structure), `%` runs that are
    * not valid triplets pass through untouched. Idempotent: decoding can
    * never mint a new `%` (0x25 is reserved). The split/transform pass is
    * skipped entirely for the overwhelmingly common percent-free URL.
    */
  def percent_normalize(u: Column): Column = {
    val piece = (s: Column) => {
      val h = upper(substring(s, 1, 2))
      val rest = s.substr(lit(3), length(s))
      val dec = element_at(typedlit(UnreservedByHex), h)
      when(dec.isNotNull, concat(dec, rest))
        .when(h.rlike("^[0-9A-F]{2}$"), concat(lit("%"), h, rest))
        .otherwise(concat(lit("%"), s))
    }
    when(!u.contains("%"), u).otherwise(
      array_join(
        transform(split(u, "%", -1),
          (s, i) => when(i === 0, s).otherwise(piece(s))), ""))
  }

  /** Fold the host of a URL to its lowercased ASCII/punycode form when it
    * carries non-ASCII ([[graft.functions.idn_ascii]]): `münchen.example`
    * and `xn--mnchen-3ya.example` are the same host and must share one
    * dedup/cap key. The ASCII fast path (virtually every row) is one rlike
    * — the native IDN expression only runs on non-ASCII hosts.
    */
  def idn_host_fold(u: Column): Column = {
    val pre = regexp_extract(u, "^([a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?)", 1)
    val host = regexp_extract(u, HostRe, 1)
    // fast path first: one whole-string ASCII probe per row (the
    // overwhelmingly common case) instead of extracting the host at all;
    // a non-ASCII row still folds only when the HOST carries non-ASCII
    when(u.rlike("^[\\x00-\\x7F]*$"), u)
      .when(host.rlike("^[\\x00-\\x7F]*$"), u)
      .otherwise(
        concat(pre, graft.functions.idn_ascii(host),
          u.substr(length(pre) + length(host) + 1, length(u))))
  }

  /** Canonical URL form for dedup/blocklist keys. The chain (order is part
    * of the contract, replayed step-for-step by the oracle):
    *   1. trim, strip the `#fragment`;
    *   2. normalize percent-encoding ([[percent_normalize]]: hex case +
    *      unreserved decode — RFC 3986 §6.2.2). BEFORE the case fold, so a
    *      decoded letter in the authority (`e%41.com`) gets lowercased
    *      like any other authority character, and a decoded tracking-param
    *      name (`%75tm_source`) is stripped like its plain twin;
    *   3. lowercase scheme+authority (path/query case is significant, the
    *      authority is not — RFC 3986 §6.2.2.1);
    *   4. strip a leading `www.`;
    *   5. strip default ports (`http://…:80`, `https://…:443`);
    *   6. strip tracking parameters ([[TrackingParamRe]]), collapse the
    *      separator runs that leaves, drop a dangling `?`/`&`;
    *   7. strip trailing slashes (`…/path/` ≡ `…/path`, `host/` ≡ `host`);
    *   8. fold a non-ASCII host to punycode ([[idn_host_fold]]; identity
    *      on ASCII hosts, which is why the DuckDB oracle — no punycode —
    *      replays steps 1-7 verbatim and step 8 only via pinned literal
    *      twins, pq91).
    * A string with no authority (no `scheme://`) passes through steps 3-5
    * and 8 unchanged and still gets fragment/percent/tracking/slash
    * cleanup. Steps 2 and 8 sit behind ONE fast-path probe — ASCII minus
    * `%` (0x25) — on the RAW input (the later steps neither mint a `%`
    * nor non-ASCII), so CaseWhen evaluates the 10-regex chain exactly
    * ONCE per row whichever branch fires (conditional branches are
    * outside codegen subexpression elimination; probing the chain's own
    * output measured ~2x on the pq83/pq86/pq88 family).
    */
  def url_canonicalize(u: Column): Column =
    graft.functions.toColumn(graft.plans.UrlCanonicalize(graft.functions.toExpr(u)))

  /** The original column-expression form of the chain (kept as the
    * differential twin for UrlFuzzSpec: the native expression must
    * equal this chain on every fuzzed input — same patterns, same order,
    * ~14x less per-row expression overhead in [[url_canonicalize]]).
    */
  private[graft] def url_canonicalize_chain(u: Column): Column = {
    def steps3to7(in: Column): Column = {
      val lowered = concat(
        lower(regexp_extract(in, AuthorityPrefixRe, 0)),
        regexp_replace(in, AuthorityPrefixRe, ""))
      val noWww   = regexp_replace(lowered, "^(https?://)www\\.", "$1")
      val noPort  = regexp_replace(
        regexp_replace(noWww, "^(http://[^/:?#]+):80([/?#]|$)", "$1$2"),
        "^(https://[^/:?#]+):443([/?#]|$)", "$1$2")
      val noTrack   = regexp_replace(noPort, TrackingParamRe, "$1")
      val collapsed = regexp_replace(noTrack, "([?&])&+", "$1")
      val noTail    = regexp_replace(collapsed, "[?&]+$", "")
      regexp_replace(regexp_replace(noTail, "/+\\?", "?"), "/+$", "")
    }
    val noFrag = regexp_replace(trim(u), "#.*$", "")
    when(trim(u).rlike("^[\\x00-\\x24\\x26-\\x7F]*$"), steps3to7(noFrag))
      .otherwise(idn_host_fold(steps3to7(percent_normalize(noFrag))))
  }

  /** Lowercased host of a URL ("" when no `scheme://host` prefix parses). */
  def url_host(u: Column): Column = lower(regexp_extract(u, HostRe, 1))

  /** Path component (between authority and `?`/`#`). */
  def url_path(u: Column): Column =
    regexp_replace(regexp_replace(u, AuthorityPrefixRe, ""), "[?#].*$", "")

  /** Number of non-empty path segments — crawl pipelines cap crawl depth. */
  def url_depth(u: Column): Column =
    size(filter(split(url_path(u), "/"), s => s =!= lit(""))).cast("int")

  /** Registrable domain ("example.co.uk" for "a.b.example.co.uk") of a HOST
    * column: last two labels, or last three when the last two form a known
    * multi-label public suffix. Hosts with ≤2 labels (incl. bare TLDs and
    * IPv4 octet-pair-free strings) pass through whole. Pure row-local label
    * algebra — the blocklist/cap key at any corpus size.
    */
  def url_registrable_domain(
      host: Column,
      suffixes: Seq[String] = MultiLabelSuffixes): Column = {
    val labels = split(host, "\\.")
    val n      = size(labels)
    val last2  = concat_ws(".", element_at(labels, -2), element_at(labels, -1))
    val last3  = concat_ws(
      ".", element_at(labels, -3), element_at(labels, -2), element_at(labels, -1))
    when(n <= 2, host)
      .otherwise(when(last2.isin(suffixes: _*), last3).otherwise(last2))
  }

  /** [[url_registrable_domain]] of a URL column (host extracted first). */
  def url_domain(u: Column, suffixes: Seq[String] = MultiLabelSuffixes): Column =
    url_registrable_domain(url_host(u), suffixes)
}
