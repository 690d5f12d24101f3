package graft.plans

import java.nio.charset.{Charset, CodingErrorAction, StandardCharsets}

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** HTTP payload decoding — the step between a WARC `response` record's raw
  * block ([[HttpBody]] strips the status line + headers) and usable text.
  * Real Common Crawl `response` records overwhelmingly ship their bodies
  * `Transfer-Encoding: chunked` and/or `Content-Encoding: gzip|deflate`,
  * in legacy charsets declared (when declared at all) in the Content-Type
  * header or a `<meta charset>` tag — so a crawl front that stops at
  * `http_body` produces garbage on most records. This object is the
  * row-local machinery behind the [[HttpText]] expression family:
  *
  *   - head parsing (status line + header fields, RFC 9112 §2.1/§5 —
  *     bare-LF tolerated like [[HttpBody]]);
  *   - `chunked` transfer decoding (RFC 9112 §7.1, extensions and
  *     trailers skipped);
  *   - `gzip`/`x-gzip`/`deflate` content decoding (RFC 1952 / RFC 1950;
  *     raw-deflate fallback for the servers that send RFC 1951 bare —
  *     a documented decade-old interop wart), output bounded so a
  *     compression bomb cannot OOM an executor;
  *   - charset resolution in the order: byte-order mark (outranks every
  *     declaration, per the WHATWG sniff — a BOM'd page with a wrong
  *     `charset=` header must not garble) → Content-Type `charset=`
  *     param → `<meta charset>` / `<meta http-equiv>` sniff in the first
  *     1024 body bytes → strict-UTF-8 validation → windows-1252 (the
  *     WHATWG fallback; also substituted for ISO-8859-1/US-ASCII
  *     declarations per the WHATWG encoding spec, and windows-31j for
  *     Shift_JIS — the supersets real pages mean).
  *
  * Failure contract is the reference's drop-not-fail task-extraction rule
  * (F2, `processor/src/.../DefaultTaskExtractor.java:39-78`): a block
  * that is not an HTTP message, a declared coding that fails to decode,
  * or an unsupported coding (`br`, `zstd`) yields NULL — never garbage
  * text and never a failed task. Everything is row-local (zero shuffle,
  * stream-safe, batch ≡ stream); decode allocations are bounded by
  * `maxOut`.
  */
object HttpDecode {

  /** Parsed head: status code, lowercased header map (last duplicate
    * wins — the WARC reader's rule), body start offset.
    */
  final case class Head(status: Int, headers: Map[String, String], bodyOff: Int)

  /** Parse the HTTP message head. Responses carry their status code;
    * REQUEST messages (WARC `request` records — method SP target SP
    * HTTP-version start line) parse with `status = -1` so their headers
    * and bodies stay reachable. Returns null when `bytes` is not an HTTP
    * message at all (neither start-line form, or no header/body
    * separator).
    */
  def parseHead(bytes: Array[Byte]): Head = {
    // find the header/body separator first (CRLFCRLF, bare LFLF tolerated)
    var i = 0
    var bodyAt = -1
    while (bodyAt < 0 && i < bytes.length) {
      if (bytes(i) == '\n') {
        if (i >= 1 && bytes(i - 1) == '\n') bodyAt = i + 1
        else if (i >= 2 && bytes(i - 1) == '\r' && bytes(i - 2) == '\n') bodyAt = i + 1
      }
      i += 1
    }
    if (bodyAt < 0) return null
    // the head region is ASCII by spec; latin-1 decode is total
    val head = new String(bytes, 0, bodyAt, StandardCharsets.ISO_8859_1)
    val lines = head.split("\r?\n")
    if (lines.isEmpty) return null
    val start = lines(0)
    val status =
      if (start.startsWith("HTTP/")) {
        val parts = start.split(" ", 3)
        val code =
          if (parts.length >= 2)
            try parts(1).trim.toInt catch { case _: NumberFormatException => -2 }
          else -2
        if (code < 0) return null // HTTP/ start line without a status code
        code
      } else {
        // request line: METHOD SP request-target SP HTTP-version
        val parts = start.split(" ")
        val isRequest = parts.length == 3 && parts(2).startsWith("HTTP/") &&
          parts(0).nonEmpty && parts(0).forall(c => c >= 'A' && c <= 'Z')
        if (!isRequest) return null
        -1
      }
    val hs = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var li = 1
    while (li < lines.length) {
      val line = lines(li)
      val c = line.indexOf(':')
      if (c > 0) hs.put(line.substring(0, c).trim.toLowerCase(java.util.Locale.ROOT),
        line.substring(c + 1).trim)
      li += 1
    }
    Head(status, hs.toMap, bodyAt)
  }

  /** Decode a `Transfer-Encoding: chunked` body (RFC 9112 §7.1): hex
    * chunk-size [;extensions] CRLF data CRLF …, terminated by a zero
    * chunk and optional trailer fields. Bare-LF line ends tolerated;
    * trailers skipped; a missing final CRLF after the last-chunk line is
    * tolerated (truncated-but-complete bodies are common in archives).
    * Null on malformed framing or when the output exceeds `maxOut`.
    */
  def dechunk(bytes: Array[Byte], off: Int, maxOut: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.min(bytes.length - off, 1 << 16).max(16))
    var p = off
    while (true) {
      // chunk-size line
      var lineEnd = p
      while (lineEnd < bytes.length && bytes(lineEnd) != '\n') lineEnd += 1
      if (lineEnd >= bytes.length) return null // no size line
      var q = p
      var size = 0L
      var digits = 0
      var ok = true
      var done = false
      while (!done && q < lineEnd) {
        val c = bytes(q).toChar
        val d =
          if (c >= '0' && c <= '9') c - '0'
          else if (c >= 'a' && c <= 'f') c - 'a' + 10
          else if (c >= 'A' && c <= 'F') c - 'A' + 10
          else -1
        if (d < 0) {
          // extensions start at ';'; whitespace before them tolerated
          if (c == ';' || c == ' ' || c == '\t' || c == '\r') done = true
          else { ok = false; done = true }
        } else {
          size = size * 16 + d
          digits += 1
          if (size > maxOut) return null // bomb guard before allocating
        }
        q += 1
      }
      if (!ok || digits == 0) return null
      p = lineEnd + 1
      if (size == 0L) {
        // trailer section: skip fields until a blank line or end of input
        var t = p
        while (t < bytes.length) {
          var e = t
          while (e < bytes.length && bytes(e) != '\n') e += 1
          val blank = e == t || (e == t + 1 && bytes(t) == '\r')
          if (blank) return out.toByteArray
          if (e >= bytes.length) return out.toByteArray // truncated trailers: accept
          t = e + 1
        }
        return out.toByteArray
      }
      if (p + size > bytes.length) return null // truncated chunk data
      if (out.size().toLong + size > maxOut) return null
      out.write(bytes, p, size.toInt)
      p += size.toInt
      // chunk data must be followed by CRLF (bare LF tolerated)
      if (p < bytes.length && bytes(p) == '\r') p += 1
      if (p >= bytes.length || bytes(p) != '\n') return null
      p += 1
    }
    null // unreachable
  }

  /** Inflate one content coding. `gzip`/`x-gzip` per RFC 1952 (multi-member
    * concatenations included); `deflate` per RFC 1950 zlib, with the bare
    * RFC 1951 raw-deflate retry the broken-server population requires.
    * Null on corrupt data, unsupported coding, or output past `maxOut`.
    */
  def inflateCoding(body: Array[Byte], coding: String, maxOut: Long): Array[Byte] =
    coding match {
      case "gzip" | "x-gzip" => gunzip(body, maxOut)
      case "deflate" =>
        val zlib = inflateWith(body, nowrap = false, maxOut)
        if (zlib != null) zlib else inflateWith(body, nowrap = true, maxOut)
      case "zstd" => unzstd(body, maxOut)
      case "identity" | "" => body
      case _ => null
    }

  /** Is `coding` one this chain can undo? The complement feeds the
    * `http_coding_unsupported` census — at crawl scale an unsupported
    * coding (today: `br` — no public pure-JVM Brotli decoder ships with
    * Spark) must be an OBSERVED loss rate, not a silent null.
    */
  def codingSupported(coding: String): Boolean = coding match {
    case "gzip" | "x-gzip" | "deflate" | "zstd" | "identity" | "" | "chunked" => true
    case _ => false
  }

  /** RFC 8878 zstandard content decoding via the zstd-jni Spark already
    * ships for shuffle/parquet compression. Streamed with a bounded
    * budget (a zstd bomb declares a huge frame content size — never
    * trust it for allocation), explicit close on every path; null on
    * corrupt frames or output past `maxOut`. Multi-frame bodies decode
    * whole (`setContinuous` stays false: EOF ends the last frame).
    */
  def unzstd(body: Array[Byte], maxOut: Long): Array[Byte] = {
    if (body.length < 4) return null
    val in = new com.github.luben.zstd.ZstdInputStreamNoFinalizer(
      new java.io.ByteArrayInputStream(body))
    try {
      val out = new java.io.ByteArrayOutputStream(
        math.min(body.length * 4L, 1L << 16).toInt.max(64))
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) {
        if (out.size().toLong + n > maxOut) return null
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      out.toByteArray
    } catch { case _: java.io.IOException => null }
    finally in.close()
  }

  /** RFC 1952 gzip decode, multi-member concatenations included. Routed
    * through [[graft.sources.warc.GraftWarc.gzipMember]] — the WARC
    * reader's allocation-disciplined framing walk (one thread-local
    * `Inflater`, `reset()` between members) — because the previous
    * `GZIPInputStream` shape never closed its stream on the success path,
    * leaving one native zlib window per ROW to the Cleaner; at pq99's
    * ~16k decodes/rep that churn made the query's reps bimodal
    * (0.33 s / 1.4 s, `tools/pq99_probe_r20.json`).
    * `GZIPInputStream`-compatible leniency kept:
    * trailing non-gzip bytes after a complete member end the stream
    * silently (truncated archives carry them); a CRC/ISIZE mismatch, a
    * corrupt member, or output past `maxOut` yields null.
    */
  def gunzip(body: Array[Byte], maxOut: Long): Array[Byte] = {
    import graft.sources.warc.GraftWarc
    if (body.length < 18) return null
    var p = 0
    // single-member fast path keeps the common case copy-free; the
    // accumulator is only allocated when a second member actually starts
    var first: Array[Byte] = null
    var acc: java.io.ByteArrayOutputStream = null
    var outLen = 0L
    def result: Array[Byte] =
      if (acc != null) acc.toByteArray else first
    while (p < body.length) {
      val magicOk = p + 1 < body.length &&
        (body(p) & 0xff) == 0x1f && (body(p + 1) & 0xff) == 0x8b
      if (!magicOk) {
        // trailing garbage after ≥1 complete member: end of stream
        return if (first != null) result else null
      }
      GraftWarc.gzipMember(body, p, body.length - p, maxOut - outLen) match {
        case GraftWarc.MemberOk(size, plain) =>
          if (first == null) first = plain
          else {
            if (acc == null) {
              acc = new java.io.ByteArrayOutputStream(
                math.min(outLen + plain.length, 1L << 16).toInt.max(64))
              acc.write(first, 0, first.length)
            }
            acc.write(plain, 0, plain.length)
          }
          outLen += plain.length
          p += size.toInt
        case _ => return null // corrupt, truncated, or past maxOut
      }
    }
    result
  }

  // one Inflater per (thread, wrap-mode), reset between rows — same
  // native-churn discipline as GraftWarc.gzipMember's threadInflater
  private val tlZlibInflater = new ThreadLocal[java.util.zip.Inflater] {
    override protected def initialValue() = new java.util.zip.Inflater(false)
  }
  private val tlRawInflater = new ThreadLocal[java.util.zip.Inflater] {
    override protected def initialValue() = new java.util.zip.Inflater(true)
  }

  private def inflateWith(body: Array[Byte], nowrap: Boolean, maxOut: Long): Array[Byte] = {
    val inf = (if (nowrap) tlRawInflater else tlZlibInflater).get()
    try {
      inf.setInput(body)
      val out = new java.io.ByteArrayOutputStream(math.min(body.length * 4L, 1L << 16).toInt.max(64))
      val buf = new Array[Byte](64 * 1024)
      while (!inf.finished()) {
        val n =
          try inf.inflate(buf)
          catch { case _: java.util.zip.DataFormatException => return null }
        if (n == 0 && !inf.finished()) return null // needs input = truncated
        if (out.size().toLong + n > maxOut) return null
        out.write(buf, 0, n)
      }
      out.toByteArray
    } finally inf.reset()
  }

  private val CharsetParam = java.util.regex.Pattern.compile(
    """(?i)charset\s*=\s*"?\s*([\w!#$%&+.:^`|~-]+)""")
  // <meta charset="..."> and <meta http-equiv="Content-Type"
  // content="text/html; charset=..."> — both sniffed from the raw bytes
  // decoded as latin-1 (the sniff region is ASCII-compatible in every
  // charset this chain resolves; UTF-16 pages are caught by the BOM arm)
  private val MetaCharset = java.util.regex.Pattern.compile(
    """(?i)<meta[^>]{0,200}?charset\s*=\s*["']?\s*([\w!#$%&+.:^`|~-]+)""")

  /** charset= parameter of a Content-Type value, or null. */
  def headerCharset(contentType: String): String = {
    if (contentType == null) return null
    val m = CharsetParam.matcher(contentType)
    if (m.find()) m.group(1) else null
  }

  /** `<meta charset>` sniff over the first 1024 body bytes, or null. */
  def metaCharset(body: Array[Byte]): String = {
    val n = math.min(body.length, 1024)
    if (n == 0) return null
    val window = new String(body, 0, n, StandardCharsets.ISO_8859_1)
    val m = MetaCharset.matcher(window)
    if (m.find()) m.group(1) else null
  }

  /** Byte-order-mark charset, or null. */
  def bomCharset(body: Array[Byte]): String = {
    if (body.length >= 3 && (body(0) & 0xff) == 0xef && (body(1) & 0xff) == 0xbb &&
      (body(2) & 0xff) == 0xbf) "UTF-8"
    else if (body.length >= 2 && (body(0) & 0xff) == 0xfe && (body(1) & 0xff) == 0xff) "UTF-16BE"
    else if (body.length >= 2 && (body(0) & 0xff) == 0xff && (body(1) & 0xff) == 0xfe) "UTF-16LE"
    else null
  }

  /** Strict UTF-8 validation (no decode output). */
  def isValidUtf8(body: Array[Byte]): Boolean = {
    var i = 0
    val n = body.length
    while (i < n) {
      val b = body(i) & 0xff
      val len =
        if (b < 0x80) 1
        else if (b >= 0xc2 && b <= 0xdf) 2
        else if (b >= 0xe0 && b <= 0xef) 3
        else if (b >= 0xf0 && b <= 0xf4) 4
        else return false
      if (i + len > n) return false
      var j = 1
      while (j < len) {
        val c = body(i + j) & 0xff
        if (c < 0x80 || c > 0xbf) return false
        j += 1
      }
      // reject overlongs/surrogates/out-of-range the lead byte alone misses
      if (len == 3) {
        if (b == 0xe0 && (body(i + 1) & 0xff) < 0xa0) return false
        if (b == 0xed && (body(i + 1) & 0xff) > 0x9f) return false
      } else if (len == 4) {
        if (b == 0xf0 && (body(i + 1) & 0xff) < 0x90) return false
        if (b == 0xf4 && (body(i + 1) & 0xff) > 0x8f) return false
      }
      i += len
    }
    true
  }

  /** Resolve a declared charset label to a decodable Charset, applying the
    * WHATWG superset substitutions (latin-1/ascii → windows-1252,
    * shift_jis → windows-31j, gb2312 → GBK). None for labels no decoder
    * exists for — the caller falls through to the next detection arm.
    */
  def resolveCharset(label: String): Option[Charset] = {
    if (label == null) return None
    val norm = label.trim.toLowerCase(java.util.Locale.ROOT)
    val mapped = norm match {
      case "iso-8859-1" | "iso8859-1" | "latin-1" | "latin1" | "us-ascii" | "ascii" |
           "windows-1252" | "cp1252" => "windows-1252"
      case "shift_jis" | "shift-jis" | "sjis" | "x-sjis" | "ms_kanji" => "windows-31j"
      case "gb2312" | "gb_2312-80" => "GBK"
      case "utf8" => "UTF-8"
      case other => other
    }
    try Some(Charset.forName(mapped)) catch { case _: Exception => None }
  }

  /** The detection chain: BOM → header param → meta sniff → UTF-8
    * validation → windows-1252. The BOM outranks every DECLARATION (the
    * WHATWG sniff's rule): a byte-order-marked page served with a wrong
    * `charset=` header is a common misconfiguration, and honoring the
    * header would garble bytes the BOM identifies exactly. Always returns
    * a decodable charset.
    */
  def detectCharset(body: Array[Byte], contentType: String): Charset =
    resolveCharset(bomCharset(body))
      .orElse(resolveCharset(headerCharset(contentType)))
      .orElse(resolveCharset(metaCharset(body)))
      .getOrElse(
        if (isValidUtf8(body)) StandardCharsets.UTF_8 else Charset.forName("windows-1252"))

  /** Total decode (malformed sequences replaced, never thrown), leading
    * BOM stripped after decode.
    */
  def decode(body: Array[Byte], cs: Charset): String = {
    val dec = cs.newDecoder()
      .onMalformedInput(CodingErrorAction.REPLACE)
      .onUnmappableCharacter(CodingErrorAction.REPLACE)
    val s = dec.decode(java.nio.ByteBuffer.wrap(body)).toString
    if (s.nonEmpty && s.charAt(0) == '\uFEFF') s.substring(1) else s
  }

  /** Undo the transfer codings then the content codings of `head`'s body —
    * THE shared decode prefix of [[httpText]] and [[httpCharsetName]] (one
    * implementation, so the census can never disagree with the text about
    * what was decoded). Transfer codings undo in reverse application
    * order: `chunked` de-chunks, `gzip`/`x-gzip`/`deflate` inflate (legal
    * TE values per RFC 9112 §7 — real servers do send `Transfer-Encoding:
    * gzip, chunked`), `identity` skips; an UNKNOWN coding returns null —
    * passing still-coded bytes to charset detection would mint garbage
    * text, the exact violation of the drop-not-fail contract. Content
    * codings likewise, via [[inflateCoding]].
    */
  def decodedBody(head: Head, block: Array[Byte], maxOut: Long): Array[Byte] = {
    var body: Array[Byte] = java.util.Arrays.copyOfRange(block, head.bodyOff, block.length)
    def codingsOf(v: String): Array[String] =
      v.split(",").map(_.trim.toLowerCase(java.util.Locale.ROOT)).filter(_.nonEmpty)
    head.headers.get("transfer-encoding").foreach { te =>
      val codings = codingsOf(te)
      var ci = codings.length - 1
      while (ci >= 0) {
        body = codings(ci) match {
          case "chunked" => dechunk(body, 0, maxOut)
          case other => inflateCoding(body, other, maxOut) // null on unknown
        }
        if (body == null) return null
        ci -= 1
      }
    }
    head.headers.get("content-encoding").foreach { ce =>
      val codings = codingsOf(ce)
      var ci = codings.length - 1
      while (ci >= 0) {
        body = inflateCoding(body, codings(ci), maxOut)
        if (body == null) return null
        ci -= 1
      }
    }
    body
  }

  /** The composed chain — raw `response`/`request` block → decoded text.
    * Null when the block is not an HTTP message or a declared coding
    * fails/is unsupported (drop-not-fail).
    */
  def httpText(block: Array[Byte], maxOut: Long): String = {
    val head = parseHead(block)
    if (head == null) return null
    val body = decodedBody(head, block, maxOut)
    if (body == null) return null
    decode(body, detectCharset(body, head.headers.getOrElse("content-type", null)))
  }

  /** Charset the chain decodes with — the analytics twin of [[httpText]]
    * (encoding census over a crawl), sharing [[decodedBody]] so the two
    * can never diverge. Null for non-HTTP and undecodable codings.
    */
  def httpCharsetName(block: Array[Byte], maxOut: Long): String = {
    val head = parseHead(block)
    if (head == null) return null
    val body = decodedBody(head, block, maxOut)
    if (body == null) return null
    detectCharset(body, head.headers.getOrElse("content-type", null))
      .name().toLowerCase(java.util.Locale.ROOT)
  }

  /** The first declared transfer/content coding this chain cannot undo, in
    * the order [[decodedBody]] would hit them (transfer codings reversed,
    * then content codings reversed), or null when every declared coding is
    * decodable — including the non-HTTP case (a census groups those under
    * null alongside fully-decodable rows; `http_status` separates them).
    * Why a census column: a crawl negotiating
    * `Accept-Encoding` loses a double-digit share of responses to `br`,
    * and that loss rate must be a COUNTED census column, not a silent
    * `http_text` null indistinguishable from corrupt data.
    */
  def unsupportedCoding(block: Array[Byte]): String = {
    val head = parseHead(block)
    if (head == null) return null
    def codingsOf(v: String): Array[String] =
      v.split(",").map(_.trim.toLowerCase(java.util.Locale.ROOT)).filter(_.nonEmpty)
    val undoOrder =
      head.headers.get("transfer-encoding").toSeq.flatMap(codingsOf(_).reverse) ++
        head.headers.get("content-encoding").toSeq.flatMap(codingsOf(_).reverse)
    undoOrder.find(c => !codingSupported(c)).orNull
  }
}

/** `http_text(block)` — decoded text of an HTTP message block (see
  * [[HttpDecode]]); null for non-HTTP blocks and undecodable codings.
  */
case class HttpText(child: Expression, maxOut: Long = HttpText.DefaultMaxOut)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"http_text expects binary, got $other")
  }
  override def nullSafeEval(input: Any): Any = {
    val s = HttpDecode.httpText(input.asInstanceOf[Array[Byte]], maxOut)
    if (s == null) null else UTF8String.fromString(s)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("httpText", this, classOf[HttpText].getName)
    val obj = ctx.freshName("textObj")
    nullSafeCodeGen(ctx, ev, c =>
      s"""Object $obj = $ref.nullSafeEval($c);
         |if ($obj == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = (org.apache.spark.unsafe.types.UTF8String) $obj; }
       """.stripMargin)
  }
  override def prettyName: String = "http_text"
  override protected def withNewChildInternal(c: Expression): HttpText = copy(child = c)
}

object HttpText {
  /** Decompressed-output bound: past it the row nulls (bomb guard). */
  val DefaultMaxOut: Long = 256L << 20
}

/** `http_charset(block)` — the charset [[HttpText]] decodes with
  * (lowercased canonical name), for encoding censuses; null for non-HTTP.
  */
case class HttpCharset(child: Expression, maxOut: Long = HttpText.DefaultMaxOut)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"http_charset expects binary, got $other")
  }
  override def nullSafeEval(input: Any): Any = {
    val s = HttpDecode.httpCharsetName(input.asInstanceOf[Array[Byte]], maxOut)
    if (s == null) null else UTF8String.fromString(s)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("httpCharset", this, classOf[HttpCharset].getName)
    val obj = ctx.freshName("csObj")
    nullSafeCodeGen(ctx, ev, c =>
      s"""Object $obj = $ref.nullSafeEval($c);
         |if ($obj == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = (org.apache.spark.unsafe.types.UTF8String) $obj; }
       """.stripMargin)
  }
  override def prettyName: String = "http_charset"
  override protected def withNewChildInternal(c: Expression): HttpCharset = copy(child = c)
}

/** `http_status(block)` — the HTTP status code; null for non-HTTP blocks
  * AND for request messages (a request line has no status — its headers
  * and body stay reachable through `http_headers`/`http_text`).
  */
case class HttpStatus(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"http_status expects binary, got $other")
  }
  override def nullSafeEval(input: Any): Any = {
    val head = HttpDecode.parseHead(input.asInstanceOf[Array[Byte]])
    if (head == null || head.status < 0) null else Int.box(head.status)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("httpStatus", this, classOf[HttpStatus].getName)
    val obj = ctx.freshName("stObj")
    nullSafeCodeGen(ctx, ev, c =>
      s"""Object $obj = $ref.nullSafeEval($c);
         |if ($obj == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((java.lang.Integer) $obj).intValue(); }
       """.stripMargin)
  }
  override def prettyName: String = "http_status"
  override protected def withNewChildInternal(c: Expression): HttpStatus = copy(child = c)
}

/** `http_headers(block)` — the HTTP header fields as a map (names
  * lowercased, last duplicate wins — the WARC reader's rule); null for
  * non-HTTP blocks.
  */
case class HttpHeaders(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    MapType(StringType, StringType, valueContainsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"http_headers expects binary, got $other")
  }
  override def nullSafeEval(input: Any): Any = {
    val head = HttpDecode.parseHead(input.asInstanceOf[Array[Byte]])
    if (head == null) null
    else {
      val entries = head.headers.toSeq
      val keys = new Array[Any](entries.length)
      val vals = new Array[Any](entries.length)
      var i = 0
      entries.foreach { case (k, v) =>
        keys(i) = UTF8String.fromString(k); vals(i) = UTF8String.fromString(v); i += 1
      }
      ArrayBasedMapData(keys, vals)
    }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("httpHeaders", this, classOf[HttpHeaders].getName)
    val obj = ctx.freshName("hdrObj")
    nullSafeCodeGen(ctx, ev, c =>
      s"""Object $obj = $ref.nullSafeEval($c);
         |if ($obj == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = (org.apache.spark.sql.catalyst.util.MapData) $obj; }
       """.stripMargin)
  }
  override def prettyName: String = "http_headers"
  override protected def withNewChildInternal(c: Expression): HttpHeaders = copy(child = c)
}

/** `http_dechunk(body)` — decode a chunked transfer coding; null on
  * malformed framing (the strict building block [[HttpText]] composes).
  */
case class HttpDechunk(child: Expression, maxOut: Long = HttpText.DefaultMaxOut)
    extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"http_dechunk expects binary, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    HttpDecode.dechunk(input.asInstanceOf[Array[Byte]], 0, maxOut)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("httpDechunk", this, classOf[HttpDechunk].getName)
    val obj = ctx.freshName("dcObj")
    nullSafeCodeGen(ctx, ev, c =>
      s"""Object $obj = $ref.nullSafeEval($c);
         |if ($obj == null) { ${ev.isNull} = true; } else { ${ev.value} = (byte[]) $obj; }
       """.stripMargin)
  }
  override def prettyName: String = "http_dechunk"
  override protected def withNewChildInternal(c: Expression): HttpDechunk = copy(child = c)
}

/** `http_inflate(body, coding)` — undo one content coding
  * (gzip/x-gzip/deflate/identity); null on corrupt data or an
  * unsupported coding.
  */
case class HttpInflate(left: Expression, right: Expression,
    maxOut: Long = HttpText.DefaultMaxOut) extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (BinaryType, StringType) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"http_inflate expects (binary, string), got $other")
  }
  override def nullSafeEval(body: Any, coding: Any): Any =
    HttpDecode.inflateCoding(body.asInstanceOf[Array[Byte]],
      coding.asInstanceOf[UTF8String].toString.trim.toLowerCase(java.util.Locale.ROOT), maxOut)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("httpInflate", this, classOf[HttpInflate].getName)
    val obj = ctx.freshName("infObj")
    nullSafeCodeGen(ctx, ev, (b, c) =>
      s"""Object $obj = $ref.nullSafeEval($b, $c);
         |if ($obj == null) { ${ev.isNull} = true; } else { ${ev.value} = (byte[]) $obj; }
       """.stripMargin)
  }
  override def prettyName: String = "http_inflate"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): HttpInflate =
    copy(left = l, right = r)
}

/** `charset_decode(body, charset)` — total decode (REPLACE on malformed,
  * BOM stripped) with the WHATWG label substitutions; null when no
  * decoder exists for the label.
  */
case class CharsetDecode(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (BinaryType, StringType) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"charset_decode expects (binary, string), got $other")
  }
  override def nullSafeEval(body: Any, cs: Any): Any =
    HttpDecode.resolveCharset(cs.asInstanceOf[UTF8String].toString) match {
      case Some(charset) =>
        UTF8String.fromString(HttpDecode.decode(body.asInstanceOf[Array[Byte]], charset))
      case None => null
    }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("charsetDecode", this, classOf[CharsetDecode].getName)
    val obj = ctx.freshName("decObj")
    nullSafeCodeGen(ctx, ev, (b, c) =>
      s"""Object $obj = $ref.nullSafeEval($b, $c);
         |if ($obj == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = (org.apache.spark.unsafe.types.UTF8String) $obj; }
       """.stripMargin)
  }
  override def prettyName: String = "charset_decode"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CharsetDecode =
    copy(left = l, right = r)
}

/** `charset_encode(text, charset)` — the encode dual (writing legacy
  * corpora, building replay fixtures): unmappable chars REPLACE ('?');
  * null when no encoder exists for the label.
  */
case class CharsetEncode(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"charset_encode expects (string, string), got $other")
  }
  override def nullSafeEval(text: Any, cs: Any): Any =
    HttpDecode.resolveCharset(cs.asInstanceOf[UTF8String].toString) match {
      case Some(charset) =>
        val enc = charset.newEncoder()
          .onMalformedInput(CodingErrorAction.REPLACE)
          .onUnmappableCharacter(CodingErrorAction.REPLACE)
        val bb = enc.encode(java.nio.CharBuffer.wrap(text.asInstanceOf[UTF8String].toString))
        val out = new Array[Byte](bb.remaining())
        bb.get(out)
        out
      case None => null
    }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("charsetEncode", this, classOf[CharsetEncode].getName)
    val obj = ctx.freshName("encObj")
    nullSafeCodeGen(ctx, ev, (b, c) =>
      s"""Object $obj = $ref.nullSafeEval($b, $c);
         |if ($obj == null) { ${ev.isNull} = true; } else { ${ev.value} = (byte[]) $obj; }
       """.stripMargin)
  }
  override def prettyName: String = "charset_encode"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CharsetEncode =
    copy(left = l, right = r)
}

/** `http_chunk(body, size)` — the chunked-coding ENCODE dual (replay
  * fixtures, serving archived bodies back over HTTP/1.1): fixed-size
  * chunks, CRLF framing, zero last-chunk. Deterministic.
  */
case class HttpChunk(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (BinaryType, IntegerType) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"http_chunk expects (binary, int), got $other")
  }
  override def nullSafeEval(body: Any, size: Any): Any = {
    val b = body.asInstanceOf[Array[Byte]]
    val sz = math.max(1, size.asInstanceOf[Int])
    val out = new java.io.ByteArrayOutputStream(b.length + 16 + 8 * (b.length / sz + 2))
    var p = 0
    val crlf = Array[Byte]('\r', '\n')
    while (p < b.length) {
      val n = math.min(sz, b.length - p)
      out.write(Integer.toHexString(n).getBytes(StandardCharsets.US_ASCII))
      out.write(crlf)
      out.write(b, p, n)
      out.write(crlf)
      p += n
    }
    out.write('0'); out.write(crlf); out.write(crlf)
    out.toByteArray
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("httpChunk", this, classOf[HttpChunk].getName)
    nullSafeCodeGen(ctx, ev, (b, c) =>
      s"${ev.value} = (byte[]) $ref.nullSafeEval($b, $c);")
  }
  override def prettyName: String = "http_chunk"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): HttpChunk =
    copy(left = l, right = r)
}

/** `gzip_compress(body)` — RFC 1952 single-member gzip (level 6,
  * deterministic for a given input and zlib). The encode dual of the
  * `gzip` arm of [[HttpInflate]]; also the WARC-sink record shape.
  */
case class GzipCompress(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"gzip_compress expects binary, got $other")
  }
  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    val out = new java.io.ByteArrayOutputStream(math.max(64, b.length / 3))
    val gz = new java.util.zip.GZIPOutputStream(out, 64 * 1024)
    gz.write(b); gz.close()
    out.toByteArray
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gzipCompress", this, classOf[GzipCompress].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = (byte[]) $ref.nullSafeEval($c);")
  }
  override def prettyName: String = "gzip_compress"
  override protected def withNewChildInternal(c: Expression): GzipCompress = copy(child = c)
}

/** `zlib_compress(body)` — RFC 1950 zlib (level 6), the `deflate` encode
  * dual of [[HttpInflate]].
  */
case class ZlibCompress(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"zlib_compress expects binary, got $other")
  }
  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    val d = new java.util.zip.Deflater(6)
    try {
      d.setInput(b); d.finish()
      val out = new java.io.ByteArrayOutputStream(math.max(64, b.length / 3))
      val buf = new Array[Byte](64 * 1024)
      while (!d.finished()) {
        val n = d.deflate(buf)
        out.write(buf, 0, n)
      }
      out.toByteArray
    } finally d.end()
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("zlibCompress", this, classOf[ZlibCompress].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = (byte[]) $ref.nullSafeEval($c);")
  }
  override def prettyName: String = "zlib_compress"
  override protected def withNewChildInternal(c: Expression): ZlibCompress = copy(child = c)
}

/** `zstd_compress(body)` — RFC 8878 zstandard (level 3, the zstd default),
  * the encode dual of the `zstd` arm of [[HttpDecode.inflateCoding]], via
  * the zstd-jni Spark ships.
  */
case class ZstdCompress(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"zstd_compress expects binary, got $other")
  }
  override def nullSafeEval(input: Any): Any =
    com.github.luben.zstd.Zstd.compress(input.asInstanceOf[Array[Byte]], 3)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("zstdCompress", this, classOf[ZstdCompress].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = (byte[]) $ref.nullSafeEval($c);")
  }
  override def prettyName: String = "zstd_compress"
  override protected def withNewChildInternal(c: Expression): ZstdCompress = copy(child = c)
}

/** `http_coding_unsupported(block)` — the first declared transfer/content
  * coding the decode chain cannot undo (today: `br`), null when the block
  * decodes or is not HTTP ([[HttpDecode.unsupportedCoding]]). The census
  * companion of [[HttpText]]: `GROUP BY http_coding_unsupported(block)`
  * turns silent decode loss into an observed rate.
  */
case class HttpCodingUnsupported(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"http_coding_unsupported expects binary, got $other")
  }
  override def nullSafeEval(input: Any): Any = {
    val s = HttpDecode.unsupportedCoding(input.asInstanceOf[Array[Byte]])
    if (s == null) null else UTF8String.fromString(s)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("httpCodingUnsupported", this,
      classOf[HttpCodingUnsupported].getName)
    val obj = ctx.freshName("codingObj")
    nullSafeCodeGen(ctx, ev, c =>
      s"""Object $obj = $ref.nullSafeEval($c);
         |if ($obj == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = (org.apache.spark.unsafe.types.UTF8String) $obj; }
       """.stripMargin)
  }
  override def prettyName: String = "http_coding_unsupported"
  override protected def withNewChildInternal(c: Expression): HttpCodingUnsupported =
    copy(child = c)
}
