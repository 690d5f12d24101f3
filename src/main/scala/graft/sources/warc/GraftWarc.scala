package graft.sources.warc

import java.io.{File, RandomAccessFile}
import java.util

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{FileTail, FileTailStream, TailFraming}

/** `graft-warc` — the engine's THIRD DataSource V2 medium: a directory of
  * WARC (ISO 28500 / WARC 1.x, the Common Crawl container) files read as a
  * table and tailed as a log by the shared [[graft.sources.FileTailStream]]
  * (offsets: [[graft.sources.FileTailOffset]]). This is the format a real
  * 100 TB web pipeline's FIRST operator parses — the crawl front
  * ([[graft.pipeline.WebCuration.crawlToCorpus]]) starts from
  * (url, payload) rows, and those rows ship on disk as WARC records.
  *
  * Container layouts (both public-spec):
  *   - `*.warc` — plain concatenated records: `WARC/1.x` version line,
  *     CRLF-terminated named headers, empty line, `Content-Length` octets
  *     of block, CRLF CRLF. Batch reads SPLIT a large file into validated
  *     record-boundary byte ranges; streaming tails it at complete-record
  *     granularity (a record whose block or trailing CRLFCRLF has not
  *     landed yet stays invisible — the jsonl medium's partial-line rule
  *     at record scale).
  *   - `*.warc.gz` / `*.wet.gz` — each record its own gzip MEMBER
  *     (concatenated members form one valid gzip stream — the ISO 28500
  *     annex / Common Crawl convention). Member boundaries are parsed
  *     exactly (manual gzip header/trailer + raw-deflate inflate), so the
  *     record id and the streaming offset are true compressed byte
  *     positions, and appended members tail like appended records.
  *
  * Schema: `(file, pos, sub, warc_type, record_id, target_uri, warc_date,
  * content_type, content_length, headers, content)` — `pos` is the
  * record's starting byte in its file (member start for gz), `sub` the
  * record index within a multi-record member (0 for the one-record-per-
  * member convention), so (file, pos, sub) is a stable id replays
  * reproduce exactly. The six standard headers are projected as columns;
  * ALL headers ride in the `headers` map (names lowercased, last
  * duplicate wins); `content` is the raw block bytes — schema-on-read
  * (the HTTP payload of a `response` record parses downstream, e.g. via
  * [[graft.functions.http_body]]).
  *
  * Options:
  *   - `path` (required): directory of WARC files;
  *   - `suffix` (default scans `.warc`, `.warc.gz`, `.wet`, `.wet.gz`):
  *     restrict to one suffix;
  *   - `startingOffsets` earliest|latest (first run only);
  *   - `maxBytesPerTrigger`: admission cap, distributed proportionally to
  *     per-file backlog, cut at a record boundary for plain files (may
  *     overshoot by at most one record — progress over precision); a gz
  *     file's share admits its whole backlog (members land atomically;
  *     documented softness);
  *   - `failOnDataLoss` (default true): same contract as graft-jsonl —
  *     vanished-with-unread-bytes or truncated-below-checkpoint fails the
  *     query; `false` drops/holds. A vanished fully-consumed file is
  *     routine rotation in either mode;
  *   - `retireConsumed` (default true): drop fully-consumed vanished
  *     files from the offset map;
  *   - `mode` permissive|failfast (default permissive): a malformed
  *     record (unparseable head, bad Content-Length) is SKIPPED to the
  *     next validated record start / next member — the reference's
  *     drop-not-fail task-extraction rule (F2,
  *     `processor/.../internal/DefaultTaskExtractor.java:39-78`);
  *     failfast raises instead;
  *   - `maxSplitBytes` (default 128 MiB, batch, plain files only): byte-
  *     range split size. Streaming slices stay one-partition-per-file —
  *     the ordering contract;
  *   - `maxRecordBytes` (default 1 GiB): sanity bound on a single
  *     record/member (a corrupt Content-Length must not OOM an executor).
  *
  * 100 TB shape: Common Crawl ships ~1 GB `.warc.gz` segments — tens of
  * thousands of files per crawl — so parallelism is file count × record
  * splits; the driver never reads record data (per trigger: one stat per
  * file plus an incremental head-only walk over NEW bytes of changed
  * plain files; gz completeness is member-exact from the compressed
  * framing alone, no decompression in the driver). Parsing is
  * executor-side and row-local; everything downstream (canonicalize,
  * dedup, gates) is the already-audited crawl front.
  */
class GraftWarcProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-warc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = GraftWarc.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftWarcTable(new CaseInsensitiveStringMap(properties))
}

object GraftWarc {
  val schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("pos", LongType, nullable = false),
    StructField("sub", IntegerType, nullable = false),
    StructField("warc_type", StringType, nullable = true),
    StructField("record_id", StringType, nullable = true),
    StructField("target_uri", StringType, nullable = true),
    StructField("warc_date", StringType, nullable = true),
    StructField("content_type", StringType, nullable = true),
    StructField("content_length", LongType, nullable = false),
    StructField("headers", MapType(StringType, StringType, valueContainsNull = false),
      nullable = false),
    StructField("content", BinaryType, nullable = false)))

  val DefaultSuffixes: Seq[String] = Seq(".warc", ".warc.gz", ".wet", ".wet.gz")

  def isGz(name: String): Boolean = name.endsWith(".gz")

  def dir(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft-warc requires the 'path' option (directory of WARC files)")
    p
  }

  // ---------------------------------------------------------------- framing

  /** One parsed record head: all headers (lowercased names, file order,
    * last duplicate wins at map build), the block length, and the byte
    * length of the head itself (version line through the blank line's
    * CRLF). A full record on disk spans `headBytes + contentLength + 4`
    * (the spec's two trailing CRLFs).
    */
  final case class RecordHead(
      headers: Vector[(String, String)], contentLength: Long, headBytes: Int) {
    def header(name: String): Option[String] = {
      // last duplicate wins — mirror the map column the row exposes
      var out: Option[String] = None
      headers.foreach { case (k, v) => if (k == name) out = Some(v) }
      out
    }
  }

  sealed trait HeadResult
  /** Head parsed; the block may or may not have landed yet. */
  final case class HeadOk(head: RecordHead) extends HeadResult
  /** Bytes end inside the head — a record still being appended. */
  case object HeadIncomplete extends HeadResult
  /** The bytes at this position are not a well-formed record head. */
  final case class HeadMalformed(reason: String) extends HeadResult

  /** Sanity cap on a record head (version line + named headers + blank
    * line): real WARC heads are hundreds of bytes; 1 MiB tolerates
    * pathological metadata without letting a corrupt stream buffer a whole
    * file as "one head".
    */
  val MaxHeadBytes: Int = 1 << 20

  /** Parse a record head from `bytes[off until len)`. CRLF line endings
    * per spec (a bare-LF head is malformed — resync finds the next good
    * record in permissive mode). Header continuation lines (leading SP/HT)
    * fold into the previous value with a single space.
    */
  def parseHead(bytes: Array[Byte], off: Int, len: Int): HeadResult = {
    // find the blank line terminating the head: \r\n\r\n
    var end = -1
    var i = off
    val scanLimit = math.min(len.toLong, off.toLong + MaxHeadBytes).toInt
    while (end < 0 && i + 3 < scanLimit) {
      if (bytes(i) == '\r' && bytes(i + 1) == '\n' &&
        bytes(i + 2) == '\r' && bytes(i + 3) == '\n') end = i
      else i += 1
    }
    if (end < 0)
      return if (len - off >= MaxHeadBytes) HeadMalformed(s"no blank line within $MaxHeadBytes bytes")
      else HeadIncomplete
    val headBytes = end + 4 - off
    // split CRLF lines in [off, end)
    val lines = ArrayBuffer.empty[String]
    var lineStart = off
    var j = off
    while (j < end) {
      if (bytes(j) == '\r' && j + 1 <= end && bytes(j + 1) == '\n') {
        lines += new String(bytes, lineStart, j - lineStart, "UTF-8")
        j += 2; lineStart = j
      } else j += 1
    }
    if (lineStart < end) lines += new String(bytes, lineStart, end - lineStart, "UTF-8")
    if (lines.isEmpty || !lines.head.startsWith("WARC/"))
      return HeadMalformed("missing WARC/ version line")
    val headers = ArrayBuffer.empty[(String, String)]
    lines.drop(1).foreach { line =>
      if (line.nonEmpty && (line.head == ' ' || line.head == '\t')) {
        // obs-fold continuation of the previous header value
        if (headers.nonEmpty) {
          val (k, v) = headers.last
          headers(headers.length - 1) = (k, v + " " + line.trim)
        }
      } else {
        val colon = line.indexOf(':')
        if (colon <= 0) return HeadMalformed(s"header line without ':': $line")
        headers += ((line.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT),
          line.substring(colon + 1).trim))
      }
    }
    val cl = headers.reverseIterator.collectFirst { case ("content-length", v) => v }
      .getOrElse(return HeadMalformed("missing Content-Length"))
    val n =
      try cl.toLong
      catch { case _: NumberFormatException => return HeadMalformed(s"bad Content-Length: $cl") }
    if (n < 0) return HeadMalformed(s"negative Content-Length: $n")
    HeadOk(RecordHead(headers.toVector, n, headBytes))
  }

  /** Parse the record head at byte `q`. Reads start SMALL (4 KiB — real
    * WARC heads are hundreds of bytes, and the driver's offset walk calls
    * this once per record, so a 64 KiB first read would be 100× read
    * amplification on small-record files) and grow ×16 up to the head
    * bound only when the head genuinely continues past the window.
    */
  def headAt(raf: RandomAccessFile, q: Long, fileLen: Long): HeadResult = {
    var want = math.min(4096L, fileLen - q).toInt
    if (want <= 0) return HeadIncomplete
    while (true) {
      val buf = new Array[Byte](want)
      raf.seek(q)
      raf.readFully(buf)
      parseHead(buf, 0, want) match {
        case HeadIncomplete if want < MaxHeadBytes && q + want < fileLen =>
          want = math.min(math.min(want.toLong * 16, MaxHeadBytes.toLong), fileLen - q).toInt
        case r => return r
      }
    }
    HeadIncomplete // unreachable
  }

  /** The spec's trailing CRLFCRLF at `[q, q+4)`. */
  def crlfCrlfAt(raf: RandomAccessFile, q: Long): Boolean = {
    if (q < 0) return false
    val b = new Array[Byte](4)
    raf.seek(q)
    raf.readFully(b)
    b(0) == '\r' && b(1) == '\n' && b(2) == '\r' && b(3) == '\n'
  }

  /** Head's claimed record end lies in-file with its trailing CRLFCRLF. */
  def recordEndOk(raf: RandomAccessFile, q: Long, h: RecordHead, fileLen: Long): Boolean = {
    val end = q + h.headBytes + h.contentLength + 4
    end <= fileLen && crlfCrlfAt(raf, end - 4)
  }

  /** First VALIDATED record start at or after `from` whose magic's first
    * byte lies in [from, ownLimit): `WARC/` preceded by CRLFCRLF (or byte
    * 0), parseable head, self-consistent record end. -1 when none. This is
    * THE resync predicate — the offset walker and every reader share it,
    * so the bytes the walker schedules and the records a reader extracts
    * can never disagree about where a record begins.
    */
  def findValidStart(raf: RandomAccessFile, from: Long, ownLimit: Long, fileLen: Long): Long = {
    val magic = Array[Byte]('W', 'A', 'R', 'C', '/')
    val chunk = new Array[Byte](256 * 1024)
    var s = from
    while (s < ownLimit) {
      val want = math.min(chunk.length.toLong, fileLen - s).toInt
      if (want <= 0) return -1L
      raf.seek(s)
      val got = readFullyUpTo(raf, chunk, want)
      val scanEnd = math.min(got.toLong, ownLimit - s).toInt
      var i = 0
      while (i < scanEnd) {
        if (chunk(i) == 'W' && matchesAt(chunk, i, got, magic)) {
          val cand = s + i
          if (cand == 0L || crlfCrlfAt(raf, cand - 4)) {
            headAt(raf, cand, fileLen) match {
              case HeadOk(h) if recordEndOk(raf, cand, h, fileLen) => return cand
              case _ => ()
            }
          }
        }
        i += 1
      }
      if (scanEnd <= magic.length) return -1L
      // overlap by magic length so a boundary-straddling magic is seen
      s += scanEnd - magic.length + 1
    }
    -1L
  }

  private def matchesAt(buf: Array[Byte], i: Int, len: Int, magic: Array[Byte]): Boolean = {
    if (i + magic.length > len) return false
    var j = 0
    while (j < magic.length) { if (buf(i + j) != magic(j)) return false; j += 1 }
    true
  }

  /** Walk complete records forward from byte `from` (a record boundary):
    * the byte position after the LAST record whose full head + block +
    * trailing CRLFCRLF lie within `limit`. Head-only I/O — blocks are
    * SKIPPED by seek, so the walk costs one bounded read per record, and
    * the streaming probe only ever walks NEW bytes (the caller caches).
    * MALFORMED framing (unparseable head, or a Content-Length whose
    * claimed end lacks the trailing CRLFCRLF) resyncs to the next
    * validated record start and keeps walking — the schedule advances
    * past junk so readers can apply the drop-not-fail (or failfast)
    * policy to it; only INCOMPLETE framing (a record still landing)
    * stops the walk.
    */
  def completeEnd(f: File, from: Long, limit: Long): Long = {
    val raf = new RandomAccessFile(f, "r")
    try {
      var committed = from
      var pos = from
      while (pos >= 0 && pos + 4 <= limit) {
        headAt(raf, pos, limit) match {
          case HeadOk(h) =>
            val end = pos + h.headBytes + h.contentLength + 4
            if (end > limit) return committed // block still landing
            else if (!crlfCrlfAt(raf, end - 4)) {
              // framing lie: resync like a reader would
              pos = findValidStart(raf, pos + 1, limit, limit)
              if (pos < 0) return committed
            } else { pos = end; committed = end }
          case HeadIncomplete => return committed // head still landing
          case HeadMalformed(_) =>
            pos = findValidStart(raf, pos + 1, limit, limit)
            if (pos < 0) return committed
        }
      }
      committed
    } finally raf.close()
  }

  private def readFullyUpTo(raf: RandomAccessFile, buf: Array[Byte], want: Int): Int = {
    var got = 0
    while (got < want) {
      val n = raf.read(buf, got, want - got)
      if (n < 0) return got
      got += n
    }
    got
  }

  /** Largest complete-record end in (from, target]; if the first record
    * starting at `from` already overruns `target`, extend to its own end
    * (progress guarantee — the admission cap yields, never starves).
    */
  def recordBoundaryNear(f: File, from: Long, target: Long, limit: Long): Long = {
    val capped = completeEnd(f, from, math.min(target, limit))
    if (capped > from) capped
    else {
      // progress rule: take the FIRST complete record past the share.
      // Start at the first VALIDATED record head (the walker's own resync
      // predicate) — junk bytes at the checkpoint must not stall a capped
      // file whose next good record overruns the share. One validated-start
      // scan + one head read — NOT a completeEnd walk of the whole backlog
      // (that would re-walk every remaining record head per capped trigger).
      val raf = new RandomAccessFile(f, "r")
      try {
        val start = findValidStart(raf, from, limit, limit)
        if (start < 0) from
        else headAt(raf, start, limit) match {
          case HeadOk(h) =>
            val end = start + h.headBytes + h.contentLength + 4
            if (end <= limit) end else from
          case _ => from
        }
      } finally raf.close()
    }
  }

  // ------------------------------------------------------------ gzip members

  /** Result of framing one gzip member within a byte window. */
  sealed trait MemberResult
  /** More bytes may land (window cut it or the file is still growing). */
  case object MemberIncomplete extends MemberResult
  /** The framing itself is broken — the size is unknowable, a reader
    * cannot step past it.
    */
  final case class MemberMalformed(reason: String) extends MemberResult
  /** Framed completely but the content is bad (CRC/ISIZE mismatch, or the
    * inflate exceeded the caller's bound): the SIZE is known, so a
    * drop-not-fail reader can skip exactly this member and keep going.
    */
  final case class MemberCorrupt(size: Long, reason: String) extends MemberResult
  /** Complete and checksum-verified; `plain` is null for measure-only calls. */
  final case class MemberOk(size: Long, plain: Array[Byte]) extends MemberResult

  /** Frame — and optionally decode — ONE gzip member at `bytes[off)` within
    * `[off, off+len)`: RFC 1952 header fields, raw-deflate body, 8-byte
    * CRC/ISIZE trailer. ONE inflate pass serves both the size and the
    * output; with `maxOut >= 0` the output is collected (bounded — past
    * the bound inflation continues DISCARDING so the member still frames
    * and reports [[MemberCorrupt]] instead of wedging the stream) and the
    * trailer is verified against it; `maxOut < 0` measures only.
    */
  def gzipMember(bytes: Array[Byte], off: Int, len: Int, maxOut: Long): MemberResult = {
    var p = off
    val end0 = off + len
    if (len < 10) return MemberIncomplete
    if ((bytes(p) & 0xff) != 0x1f || (bytes(p + 1) & 0xff) != 0x8b)
      return MemberMalformed("bad gzip magic")
    if (bytes(p + 2) != 8) return MemberMalformed("gzip CM is not deflate")
    val flg = bytes(p + 3) & 0xff
    p += 10
    if ((flg & 4) != 0) { // FEXTRA
      if (end0 - p < 2) return MemberIncomplete
      val xlen = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8)
      p += 2 + xlen
      if (p > end0) return MemberIncomplete
    }
    if ((flg & 8) != 0) { // FNAME, zero-terminated
      while (p < end0 && bytes(p) != 0) p += 1
      if (p >= end0) return MemberIncomplete
      p += 1
    }
    if ((flg & 16) != 0) { // FCOMMENT
      while (p < end0 && bytes(p) != 0) p += 1
      if (p >= end0) return MemberIncomplete
      p += 1
    }
    if ((flg & 2) != 0) { // FHCRC
      p += 2
      if (p > end0) return MemberIncomplete
    }
    val decode = maxOut >= 0
    val inf = threadInflater.get()
    try {
      inf.setInput(bytes, p, end0 - p)
      val crc = new java.util.zip.CRC32
      var outLen = 0L
      var overflow = false
      val out = if (decode) new java.io.ByteArrayOutputStream(
        math.min(math.max(64L, maxOut / 8), 1L << 16).toInt) else null
      val sink = new Array[Byte](64 * 1024)
      while (!inf.finished()) {
        val n =
          try inf.inflate(sink)
          catch {
            case _: java.util.zip.DataFormatException =>
              return MemberMalformed("corrupt deflate stream")
          }
        if (n == 0 && !inf.finished()) {
          return if (inf.needsInput()) MemberIncomplete
          else MemberMalformed("deflate stream stalled")
        }
        if (decode) {
          crc.update(sink, 0, n)
          if (!overflow && outLen + n > maxOut) overflow = true
          if (!overflow) out.write(sink, 0, n)
        }
        outLen += n
      }
      val deflateBytes = (end0 - p) - inf.getRemaining
      val trailerAt = p + deflateBytes
      val size = (trailerAt + 8 - off).toLong
      if (trailerAt + 8 > end0) return MemberIncomplete
      if (!decode) return MemberOk(size, null)
      if (overflow)
        return MemberCorrupt(size, s"member inflates past $maxOut bytes")
      def le32(q: Int): Long =
        (bytes(q) & 0xffL) | ((bytes(q + 1) & 0xffL) << 8) |
          ((bytes(q + 2) & 0xffL) << 16) | ((bytes(q + 3) & 0xffL) << 24)
      if (le32(trailerAt) != crc.getValue)
        return MemberCorrupt(size, "CRC32 mismatch")
      if (le32(trailerAt + 4) != (outLen & 0xffffffffL))
        return MemberCorrupt(size, "ISIZE mismatch")
      MemberOk(size, out.toByteArray)
    } finally inf.reset()
  }

  /** One raw-deflate [[java.util.zip.Inflater]] per thread, `reset()`
    * between members instead of `end()`+new per call. A new Inflater per
    * member allocates (and a forgotten one Cleaner-frees) a native zlib
    * window each time, and at corpus row rates that native churn dominates
    * the decode ([[HttpExpressions]]' pq99). Safe because [[gzipMember]] is
    * synchronous and non-reentrant; native memory is bounded at one zlib
    * window per executor task thread, freed when the thread dies.
    */
  private val threadInflater = new ThreadLocal[java.util.zip.Inflater] {
    override protected def initialValue(): java.util.zip.Inflater =
      new java.util.zip.Inflater(true)
  }

  /** Measure-only compatibility form: -1 incomplete, -2 malformed, else
    * the exact member size (the driver's offset walk — no decode, no
    * checksum validation; corruption surfaces executor-side).
    */
  def gzipMemberSize(bytes: Array[Byte], off: Int, len: Int): Long =
    gzipMember(bytes, off, len, maxOut = -1L) match {
      case MemberOk(size, _) => size
      case MemberIncomplete => -1L
      case _ => -2L
    }

  /** Where a gz member walk stopped: `end` is the position after the last
    * complete member; `malformed` carries the reason when the stop was
    * BROKEN FRAMING (junk between members — the size of what follows is
    * unknowable, so no later byte can ever be scheduled) rather than the
    * benign end of complete data. Callers surface it per their loss
    * contract: a silent `malformed` is a permanently wedged tail.
    */
  final case class GzWalkEnd(end: Long, malformed: Option[String])

  /** Walk complete gzip MEMBERS forward from byte `from` (a member
    * boundary): `end` is the position after the last member that is fully
    * landed — header, deflate body and trailer all within `limit`. The walk
    * reads only NEW bytes (callers cache), decompresses to /dev/null (the
    * deflate body must be measured to find the trailer; output is
    * discarded). The stop reason distinguishes "more bytes may land"
    * (incomplete tail, `malformed = None`) from "framing is broken at
    * `end`, nothing after it is ever schedulable" (`malformed = Some`).
    */
  def completeGzWalk(f: File, from: Long, limit: Long): GzWalkEnd = {
    if (limit <= from) return GzWalkEnd(from, None)
    val raf = new RandomAccessFile(f, "r")
    try {
      // CHUNKED walk: one 4 MiB fill serves many record-sized members (a
      // per-member window read would amplify the probe's I/O ~1000x on
      // small-record segments); deflate bodies are measured with output
      // discarded — the walk only needs sizes
      val windowCap = (Int.MaxValue - 8).toLong
      val chunkBytes = 4L << 20
      var buf: Array[Byte] = Array.emptyByteArray
      var bufStart = 0L
      var bufGot = 0
      var pos = from
      def fill(at: Long, want: Long): Unit = {
        val w = math.min(want, windowCap).toInt
        if (buf.length < w) buf = new Array[Byte](w)
        raf.seek(at)
        var got = 0
        var eof = false
        while (got < w && !eof) {
          val n = raf.read(buf, got, w - got)
          if (n < 0) eof = true else got += n
        }
        bufStart = at
        bufGot = got
      }
      var done = false
      var stallReason: Option[String] = None
      def measure(off: Int, len: Int): Long = gzipMember(buf, off, len, maxOut = -1L) match {
        case MemberOk(size, _) => size
        case MemberIncomplete => -1L
        case MemberMalformed(reason) => stallReason = Some(reason); -2L
        case MemberCorrupt(size, _) => size // measure-only never returns this; framed = steppable
      }
      while (!done && pos < limit) {
        val spanCap = math.min(limit - pos, windowCap)
        if (pos < bufStart || pos >= bufStart + bufGot)
          fill(pos, math.min(chunkBytes, spanCap))
        var off = (pos - bufStart).toInt
        stallReason = None
        var size = measure(off, bufGot - off)
        var span = (bufGot - off).toLong
        var growing = true
        while (size == -1L && span < spanCap && growing) {
          fill(pos, math.min(math.max(span * 4, chunkBytes), spanCap))
          off = 0
          // fill() is EOF-short: a span that stopped growing is the true
          // file end under `limit` — settle instead of spinning
          growing = bufGot.toLong > span
          span = bufGot.toLong
          size = measure(off, bufGot)
        }
        if (size > 0) pos += size else done = true
      }
      GzWalkEnd(pos, stallReason)
    } finally raf.close()
  }

  // ------------------------------------------------------------- write utils

  /** Serialize one record: WARC/1.1 version line, the given headers (plus
    * Content-Length, computed), blank line, block, CRLFCRLF.
    */
  def recordBytes(headers: Seq[(String, String)], content: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder("WARC/1.1\r\n")
    headers.foreach { case (k, v) =>
      require(!v.contains('\r') && !v.contains('\n'), s"header value must be line-free: $k")
      sb.append(k).append(": ").append(v).append("\r\n")
    }
    sb.append("Content-Length: ").append(content.length).append("\r\n\r\n")
    val head = sb.toString.getBytes("UTF-8")
    val out = new Array[Byte](head.length + content.length + 4)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(content, 0, out, head.length, content.length)
    out(out.length - 4) = '\r'; out(out.length - 3) = '\n'
    out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
    out
  }

  /** Append records to `dir/name` as plain WARC — the producer util the
    * chaos/roundtrip harnesses write through (tail semantics: a reader
    * sees each record once its trailing CRLFCRLF lands).
    */
  def append(dir: String, name: String, records: Seq[(Seq[(String, String)], Array[Byte])]): Unit = {
    val out = new java.io.FileOutputStream(new File(dir, name), true)
    try records.foreach { case (h, c) => out.write(recordBytes(h, c)) }
    finally out.close()
  }

  /** Land `dir/name` as a `.gz` of per-record gzip members via write-to-
    * temp + atomic rename — the Common Crawl segment shape.
    */
  def writeGz(dir: String, name: String, records: Seq[(Seq[(String, String)], Array[Byte])]): Unit = {
    require(name.endsWith(".gz"), s"writeGz writes gzip segments, got $name")
    java.nio.file.Files.createDirectories(new File(dir).toPath)
    val tmp = new File(dir, s".$name.${java.util.UUID.randomUUID()}.inprogress")
    val out = new java.io.FileOutputStream(tmp)
    // close() each member's stream so its native Deflater is end()ed
    // deterministically (finish() alone leaks zlib buffers until GC — a
    // thousands-of-records shard would pile up off-heap memory); the
    // shield keeps the underlying file open across members
    val shield = new java.io.FilterOutputStream(out) {
      // FilterOutputStream's default array write loops write(int) — one
      // native call PER BYTE of deflate output; pass arrays through
      override def write(b: Array[Byte], off: Int, len: Int): Unit = out.write(b, off, len)
      override def close(): Unit = flush()
    }
    try records.foreach { case (h, c) =>
      val gz = new java.util.zip.GZIPOutputStream(shield, 64 * 1024)
      gz.write(recordBytes(h, c))
      gz.close() // ends the MEMBER and its deflater; shield keeps `out` open
    } finally out.close()
    java.nio.file.Files.move(tmp.toPath, new File(dir, name).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }
}

class GraftWarcTable(options: CaseInsensitiveStringMap) extends Table
    with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"graft-warc(${GraftWarc.dir(options)})"
  override def schema(): StructType = GraftWarc.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ,
      TableCapability.STREAMING_WRITE, TableCapability.BATCH_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftWarcWriteBuilder(info)
  /** Column pruning is REAL I/O here, not cosmetics: a header-only query
    * (count responses per host, content-length census) never reads block
    * bytes at all — the plain reader SEEKS past each block, so a 1 GB file
    * scans as a few KB of record heads. (gz members must still inflate —
    * the framing lives inside the compressed stream — but pruned rows skip
    * the block copy.)
    */
  override def newScanBuilder(scanOptions: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder
      with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
      private var required: StructType = GraftWarc.schema
      override def pruneColumns(r: StructType): Unit = { required = r }
      override def build(): Scan = new GraftWarcScan(scanOptions, required)
    }
}

class GraftWarcScan(
    options: CaseInsensitiveStringMap,
    required: StructType = GraftWarc.schema) extends Scan {
  private val dir = GraftWarc.dir(options)
  // required columns as indexes into the FULL schema, in required order
  private val fields: Seq[Int] =
    required.fieldNames.toSeq.map(GraftWarc.schema.fieldIndex)
  private val suffixes =
    Option(options.get("suffix")).filter(_.nonEmpty).map(Seq(_)).getOrElse(GraftWarc.DefaultSuffixes)
  private val failOnDataLoss = options.getBoolean("failondataloss", true)
  private val permissive =
    options.getOrDefault("mode", "permissive").equalsIgnoreCase("permissive")
  private val maxSplitBytes = {
    val v = options.getLong("maxsplitbytes", 128L << 20)
    require(v > 0, s"maxSplitBytes must be positive, got $v")
    v
  }
  private val maxRecordBytes = {
    val v = options.getLong("maxrecordbytes", 1L << 30)
    // upper bound: a record buffers as ONE JVM byte array — a cap past
    // Int.MaxValue would let a >2 GiB Content-Length wrap negative at the
    // allocation instead of being rejected here
    require(v > 0 && v <= (Int.MaxValue - 8).toLong,
      s"maxRecordBytes must be in (0, ${Int.MaxValue - 8}], got $v")
    v
  }

  override def readSchema(): StructType = required

  /** Batch: the complete-record snapshot of every file at planning time.
    * Plain files larger than `maxSplitBytes` plan as raw byte ranges; each
    * reader resolves boundaries by validated-record-start ownership
    * (`aligned = false`). gz files plan whole (Common Crawl's ~1 GB
    * segments give file-count parallelism; a member index would enable
    * splitting — not needed at the segment sizes the format ships in).
    */
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      FileTail.planBatch(files, failOnDataLoss) { f =>
        val gz = GraftWarc.isGz(f.getName)
        val complete =
          if (gz) {
            val walk = GraftWarc.completeGzWalk(f, 0L, f.length())
            // broken gz framing means every byte past the junk is
            // unschedulable forever — surface it per the loss contract
            // instead of silently planning a truncated file
            walk.malformed.foreach { reason =>
              if (failOnDataLoss || !permissive) throw new IllegalStateException(
                s"malformed gzip framing in ${f.getName} at byte ${walk.end}: $reason — " +
                  s"${f.length() - walk.end} trailing bytes are unreadable. Set " +
                  "failOnDataLoss=false with mode=permissive to read what precedes the junk.")
              System.err.println(s"[graft-warc] ${f.getName}: malformed gzip framing at byte " +
                s"${walk.end} ($reason); dropping ${f.length() - walk.end} trailing bytes")
            }
            walk.end
          }
          else GraftWarc.completeEnd(f, 0L, f.length())
        if (complete == 0L) Seq.empty[InputPartition]
        else if (gz || complete <= maxSplitBytes) slice(f, 0L, complete)
        else {
          val n = (complete + maxSplitBytes - 1) / maxSplitBytes
          require(n <= Int.MaxValue, s"${f.getName}: too many splits — raise maxSplitBytes")
          (0L until n).map { i =>
            GraftWarcInputPartition(f.getPath, f.getName, i * maxSplitBytes,
              math.min((i + 1) * maxSplitBytes, complete), gz,
              failOnDataLoss, permissive, maxRecordBytes, fields, aligned = false)
          }
        }
      }
    override def createReaderFactory(): PartitionReaderFactory = new GraftWarcReaderFactory
  }

  private def files: Seq[File] =
    FileTail.listFiles(dir, suffixes, medium = "graft-warc")

  /** One aligned partition for `[from, until)` of `f`. */
  private def slice(f: File, from: Long, until: Long): Seq[InputPartition] =
    Seq(GraftWarcInputPartition(f.getPath, f.getName, from, until, GraftWarc.isGz(f.getName),
      failOnDataLoss, permissive, maxRecordBytes, fields))

  /** The directory tail ([[FileTailStream]]) with WARC framing: a file's
    * complete end is the resumable record walk (plain) or member walk (gz);
    * an admission cut lands on a record boundary, while a gz file's share
    * admits its whole backlog (members land atomically; documented
    * softness); each slice is one partition — the ordering contract.
    */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    val framing = new TailFraming {
      override def medium: String = "graft-warc"
      override def completeEnd(f: File, from: Long, len: Long): Long = {
        val name = f.getName
        if (GraftWarc.isGz(name)) {
          val walk = GraftWarc.completeGzWalk(f, from, len)
          // junk between members wedges the tail FOREVER (no later byte is
          // ever schedulable) — a silent stall would look like "no new
          // data". Strict modes raise; permissive records the stall point
          // once per (len, mtime) probe so the wedge is observable.
          walk.malformed.foreach { reason =>
            if (failOnDataLoss || !permissive) throw new IllegalStateException(
              s"malformed gzip framing in $name at byte ${walk.end}: $reason — the " +
                s"${len - walk.end} bytes after it can never be scheduled. Set " +
                "failOnDataLoss=false with mode=permissive to keep tailing what precedes it.")
            System.err.println(s"[graft-warc] $name: stream stalled at byte ${walk.end} " +
              s"on malformed gzip framing ($reason); ${len - walk.end} bytes unreadable")
          }
          walk.end
        }
        else GraftWarc.completeEnd(f, from, len)
      }
      override def cut(f: File, from: Long, target: Long, complete: Long): Long =
        if (GraftWarc.isGz(f.getName)) complete
        else GraftWarc.recordBoundaryNear(f, from, target, complete)
      override def partitions(f: File, from: Long, until: Long): Seq[InputPartition] =
        slice(f, from, until)
      override def readerFactory: PartitionReaderFactory = new GraftWarcReaderFactory
    }
    new FileTailStream(dir, suffixes, framing,
      startAtLatest = options.getOrDefault("startingoffsets", "earliest")
        .equalsIgnoreCase("latest"),
      failOnDataLoss = failOnDataLoss,
      maxBytesPerTrigger = Option(options.get("maxbytespertrigger")).map { v =>
        require(v.toLong > 0, s"maxBytesPerTrigger must be positive, got $v")
        v.toLong
      },
      retireConsumed = options.getBoolean("retireconsumed", true))
  }
}

/** One Spark partition per file slice. `aligned = true` means `from` is an
  * exact record (member) boundary; `aligned = false` (batch byte-range
  * splits, plain files only) means a raw position with validated-record-
  * start ownership: a record belongs to the split containing the first
  * byte of its `WARC/` magic — the reader resyncs forward at `from` and
  * reads past `until` to finish the last record it owns. Resync validates
  * a candidate start (magic preceded by CRLFCRLF or byte 0, parseable
  * head, trailing CRLFCRLF where the head's Content-Length says), so block
  * bytes that merely CONTAIN the magic don't fool it unless they embed a
  * full self-consistent record (use one-record-per-member gz for
  * adversarial payloads).
  */
case class GraftWarcInputPartition(
    path: String, name: String, from: Long, until: Long, gz: Boolean,
    failOnDataLoss: Boolean, permissive: Boolean, maxRecordBytes: Long,
    fields: Seq[Int], aligned: Boolean = true)
  extends InputPartition

class GraftWarcReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftWarcInputPartition]
    FileTail.openSlice(p.path, p.name, p.from, p.until, p.failOnDataLoss) { raf =>
      if (p.gz) new GraftWarcGzReader(p, raf) else new GraftWarcPlainReader(p, raf)
    }
  }
}

/** Shared record→row materialization. */
private[warc] object WarcRows {
  /** Full-schema index of the `content` column — readers check it against
    * the pruned field list to skip block I/O entirely.
    */
  val ContentIdx: Int = GraftWarc.schema.fieldIndex("content")

  /** Materialize ONLY the pruned columns (`fields` — full-schema indexes in
    * output order): a header-only projection never builds the headers map
    * or touches the block, and the readers skip reading it at all.
    */
  def row(
      name: String, pos: Long, sub: Int,
      head: GraftWarc.RecordHead, content: Array[Byte],
      fields: Seq[Int]): InternalRow = {
    def h(k: String): Any = head.header(k).map(UTF8String.fromString).orNull
    val out = new Array[Any](fields.length)
    var o = 0
    fields.foreach { f =>
      out(o) = f match {
        case 0 => UTF8String.fromString(name)
        case 1 => pos
        case 2 => sub
        case 3 => h("warc-type")
        case 4 => h("warc-record-id")
        case 5 => h("warc-target-uri")
        case 6 => h("warc-date")
        case 7 => h("content-type")
        case 8 => head.contentLength
        case 9 =>
          // DEDUP duplicate header names (last value wins, first-occurrence
          // order): a Spark map with repeated keys is malformed — lookups
          // would return the FIRST duplicate while the projected columns
          // follow last-wins, and map writers reject repeated keys. Heads
          // are tiny (~8 names), so dup detection is a quadratic scan and
          // the typical duplicate-free record fills the arrays directly
          val hs = head.headers
          var hasDup = false
          var a = 0
          while (!hasDup && a < hs.length) {
            var b = a + 1
            while (!hasDup && b < hs.length) { hasDup = hs(a)._1 == hs(b)._1; b += 1 }
            a += 1
          }
          val entries: Seq[(String, String)] =
            if (!hasDup) hs
            else {
              val dedup = scala.collection.mutable.LinkedHashMap.empty[String, String]
              hs.foreach { case (k, v) => dedup.put(k, v) }
              dedup.toSeq
            }
          val keys = new Array[Any](entries.length)
          val vals = new Array[Any](entries.length)
          var i = 0
          entries.foreach { case (k, v) =>
            keys(i) = UTF8String.fromString(k); vals(i) = UTF8String.fromString(v); i += 1
          }
          ArrayBasedMapData(keys, vals)
        case 10 => content
        case bad => throw new IllegalStateException(s"unknown warc field index $bad")
      }
      o += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }
}

/** Plain-.warc slice reader: record-at-a-time via bounded head reads + one
  * exact block read. Malformed framing: permissive resyncs to the next
  * validated record start (drop-not-fail — F2); failfast raises.
  */
class GraftWarcPlainReader(p: GraftWarcInputPartition, raf: RandomAccessFile)
    extends PartitionReader[InternalRow] {
  private val fileLen = raf.length()
  // unaligned split: resync finds the first validated record start in
  // [from, until). A file truncated below the split between planning and
  // read would make that resync silently yield zero rows — the aligned
  // path raises for the same truncation (HeadIncomplete), so match it
  // here before resyncing.
  if (!p.aligned && p.failOnDataLoss && fileLen < p.until)
    throw new IllegalStateException(
      s"data loss detected on ${p.name}: file truncated to $fileLen below the planned " +
        s"split [${p.from}, ${p.until}). Set failOnDataLoss=false to keep what remains.")
  private var pos =
    if (p.aligned) p.from else GraftWarc.findValidStart(raf, p.from, p.until, fileLen)
  private var current: InternalRow = _

  override def next(): Boolean = {
    current = null
    while (current == null) {
      if (pos < 0 || pos >= p.until) return false
      GraftWarc.headAt(raf, pos, fileLen) match {
        case GraftWarc.HeadOk(h)
          if h.contentLength <= p.maxRecordBytes && GraftWarc.recordEndOk(raf, pos, h, fileLen) =>
          // content pruned away -> SEEK past the block, zero block I/O
          val content =
            if (p.fields.contains(WarcRows.ContentIdx)) {
              val c = new Array[Byte](h.contentLength.toInt)
              raf.seek(pos + h.headBytes)
              raf.readFully(c)
              c
            } else null
          current = WarcRows.row(p.name, pos, 0, h, content, p.fields)
          pos = pos + h.headBytes + h.contentLength + 4
        case GraftWarc.HeadIncomplete =>
          // scheduled bytes ran dry: truncation after planning (the offset
          // only ever schedules complete records)
          if (p.failOnDataLoss) throw new IllegalStateException(
            s"data loss detected on ${p.name}: record at byte $pos truncated below the " +
              s"planned end ${p.until}. Set failOnDataLoss=false to keep what remains.")
          return false
        case bad =>
          val reason = bad match {
            case GraftWarc.HeadMalformed(r) => r
            case GraftWarc.HeadOk(h) =>
              s"record overruns maxRecordBytes or lost its trailing CRLFCRLF (len=${h.contentLength})"
            case _ => "unreachable"
          }
          if (!p.permissive) throw new IllegalStateException(
            s"malformed WARC record in ${p.name} at byte $pos: $reason (mode=failfast)")
          // drop-not-fail (F2): resync to the next validated start — the
          // same predicate the offset walker schedules with
          pos = GraftWarc.findValidStart(raf, pos + 1, p.until, fileLen)
      }
    }
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = raf.close()
}

/** gz slice reader: member-at-a-time from a member boundary. Each member
  * decompresses whole (bounded by maxRecordBytes) and its records parse
  * from the buffer; `pos` is the member's compressed start offset, `sub`
  * the record index inside it. A malformed member (or malformed record
  * inside one): permissive skips to the next member, failfast raises.
  */
class GraftWarcGzReader(p: GraftWarcInputPartition, raf: RandomAccessFile)
    extends PartitionReader[InternalRow] {
  private var memberPos = p.from
  private var rows: Iterator[InternalRow] = Iterator.empty
  private var current: InternalRow = _
  // CHUNKED buffering: members are record-sized (hundreds of bytes to a
  // few MB), so one 4 MiB fill serves MANY members, and gzipMember frames,
  // decodes and CRC-checks each in ONE pass over the shared buffer.
  private val windowCap = (Int.MaxValue - 8).toLong
  private val ChunkBytes = 4L << 20
  private var buf: Array[Byte] = Array.emptyByteArray
  private var bufStart = 0L
  private var bufGot = 0

  /** (Re)fill `buf` with file bytes [memberPos, memberPos + want), short at
    * EOF. `want` is clamped to the array-safe bound.
    */
  private def fill(want: Long): Unit = {
    val w = math.min(want, windowCap).toInt
    if (buf.length < w) buf = new Array[Byte](w)
    raf.seek(memberPos)
    var got = 0
    var eof = false
    while (got < w && !eof) {
      val n = raf.read(buf, got, w - got)
      if (n < 0) eof = true else got += n
    }
    bufStart = memberPos
    bufGot = got
  }

  private def loadMember(): Boolean = {
    while (memberPos < p.until) {
      val avail = (p.until - memberPos).min(raf.length() - memberPos)
      if (avail <= 0) {
        // planned bytes remain but the file ends at/below the member
        // boundary: truncation after planning — strict mode must report it
        // (the plain path's HeadIncomplete case does); permissive ends the
        // slice with what was delivered
        if (p.failOnDataLoss) throw new IllegalStateException(
          s"data loss detected on ${p.name}: file truncated to byte ${raf.length()} below " +
            s"the planned end ${p.until}. Set failOnDataLoss=false to keep what remains.")
        return false
      }
      val spanCap = math.min(avail, windowCap)
      // ensure buffered bytes at memberPos; grow the span while the member
      // is incomplete ONLY because the buffered span cut it
      if (memberPos < bufStart || memberPos >= bufStart + bufGot)
        fill(math.min(ChunkBytes, spanCap))
      var off = (memberPos - bufStart).toInt
      var result = GraftWarc.gzipMember(buf, off, bufGot - off, p.maxRecordBytes)
      var span = (bufGot - off).toLong
      var growing = true
      while (result == GraftWarc.MemberIncomplete && span < spanCap && growing) {
        fill(math.min(math.max(span * 4, ChunkBytes), spanCap))
        off = 0
        // fill() is EOF-short: a span that stopped growing is the file
        // ending under the plan (truncated since the avail stat) — settle
        // into the MemberIncomplete handling below instead of spinning
        growing = bufGot.toLong > span
        span = bufGot.toLong
        result = GraftWarc.gzipMember(buf, off, bufGot - off, p.maxRecordBytes)
      }
      result match {
        case GraftWarc.MemberOk(size, plain) =>
          val start = memberPos
          memberPos += size
          val recs = ArrayBuffer.empty[InternalRow]
          var roff = 0
          var sub = 0
          var ok = true
          while (ok && roff < plain.length) {
            GraftWarc.parseHead(plain, roff, plain.length) match {
              case GraftWarc.HeadOk(h)
                if roff + h.headBytes + h.contentLength + 4 <= plain.length =>
                // the member had to inflate for framing; pruning still
                // skips the per-record block copy
                val content =
                  if (p.fields.contains(WarcRows.ContentIdx)) {
                    val c = new Array[Byte](h.contentLength.toInt)
                    System.arraycopy(plain, roff + h.headBytes, c, 0, c.length)
                    c
                  } else null
                recs += WarcRows.row(p.name, start, sub, h, content, p.fields)
                sub += 1
                roff += h.headBytes + h.contentLength.toInt + 4
              case _ =>
                if (!p.permissive) throw new IllegalStateException(
                  s"malformed WARC record inside gzip member of ${p.name} at byte $start " +
                    "(mode=failfast)")
                ok = false // drop the member's tail, move to the next member
            }
          }
          if (recs.nonEmpty) { rows = recs.iterator; return true }
        case GraftWarc.MemberCorrupt(size, reason) =>
          // framed but lying (CRC/ISIZE mismatch, or inflates past
          // maxRecordBytes — a zip bomb still frames): the size is known,
          // so drop-not-fail skips EXACTLY this member and keeps reading
          if (!p.permissive) throw new IllegalStateException(
            s"corrupt gzip member in ${p.name} at byte $memberPos: $reason (mode=failfast)")
          memberPos += size
        case GraftWarc.MemberIncomplete =>
          // torn tail member below the planned end: truncation after planning
          if (p.failOnDataLoss) throw new IllegalStateException(
            s"data loss detected on ${p.name}: gzip member at byte $memberPos truncated below " +
              s"the planned end ${p.until}. Set failOnDataLoss=false to keep what remains.")
          return false
        case GraftWarc.MemberMalformed(reason) =>
          if (!p.permissive) throw new IllegalStateException(
            s"malformed gzip member in ${p.name} at byte $memberPos: $reason (mode=failfast)")
          // permissive: cannot re-frame a corrupt gzip stream — drop the slice tail
          return false
      }
    }
    false
  }

  override def next(): Boolean = {
    if (rows.hasNext) { current = rows.next(); return true }
    if (!loadMember()) return false
    current = rows.next()
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = raf.close()
}
