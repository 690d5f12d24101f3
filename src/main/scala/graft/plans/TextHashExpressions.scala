package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared md5 plumbing for the portable text-hash family (see
  * [[graft.functions.TextFunctions.portable_hash]]): both expressions below
  * must reproduce `conv(substring(md5(s), pos, 15), 16, 10)` bit-for-bit so
  * the DuckDB oracle recomputes identical values from the SQL form.
  *
  * CONTRACT for every `nullSafeEval` in this family: non-null input ⇒
  * non-null result (an empty document still hashes to a value). The codegen
  * bridges below rely on it — they assign `ref.nullSafeEval(c)` straight into
  * `ev.value` with `ev.isNull` already false, so a null return would NPE
  * (SimHash's `.longValue()`) or corrupt silently (MinHashSigs emitting null
  * with isNull=false). If an implementation ever needs to return null, the
  * bridge must grow a defensive `ev.isNull` check at the same time.
  */
private[plans] trait Md5HashedText {
  // one digest per (thread × deserialized expression copy). Task-local
  // copies make this effectively per-task in the normal path; the
  // ThreadLocal closes the residual hazard of ONE interpreted instance
  // evaluated from two threads (shared interpreted projection /
  // subexpression elimination) interleaving update/digest on a shared
  // MessageDigest. Cost is one ThreadLocal lookup per call, dwarfed by the
  // MD5 itself.
  @transient private lazy val mdCache = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  protected final def digest(s: UTF8String): Array[Byte] =
    mdCache.get().digest(s.getBytes)

  /** md5 of a byte range, no intermediate copy. */
  protected final def digestRange(b: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val md = mdCache.get()
    md.update(b, off, len)
    md.digest()
  }

  /** Hex chars 1-15 of the digest (nibbles 0-14) as a 60-bit long:
    * big-endian bytes 0-7 shifted right one nibble.
    */
  protected final def hexHead(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
    v >>> 4
  }

  /** Hex chars 16-30 of the digest (nibbles 15-29) as a 60-bit long:
    * low nibble of byte 7 followed by bytes 8-14.
    */
  protected final def hexTail(d: Array[Byte]): Long = {
    var v = d(7) & 0xFL
    var i = 8
    while (i < 15) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
    v
  }

  protected final def requireString(e: Expression, name: String): TypeCheckResult =
    e.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"$name expects string, got $other")
    }
}

/** The k-wide minhash signature of a document in ONE native pass — distinct
  * character `shingleSize`-grams, one md5 per distinct shingle, k running
  * mins of the double-hash family `(h1 + i*h2) mod P`.
  *
  * Replaces the declarative pipeline (explode distinct shingles → Catalyst
  * md5-hex → conv/substring parses → groupBy(id) with k min aggregates),
  * which paid the string-hex round trip per shingle plus a shuffle whose only
  * job was to re-assemble rows the map side already had. Values are
  * bit-identical (asserted in DedupSpec): shingle extraction mirrors
  * `char_ngrams`'s clamping rule `sequence(1, greatest(len - (n-1), 1))` with
  * SQL substring semantics, and the two 60-bit hash halves reproduce
  * `conv(substring(md5(sh), 1|16, 15), 16, 10) % P` exactly.
  *
  * Null text → null (the caller filters, matching the explode-drop of the
  * declarative form); empty text hashes its single "" shingle, as
  * `substr(text, 1, n)` does on both engines.
  */
case class MinHashSigs(child: Expression, shingleSize: Int, k: Int)
    extends UnaryExpression with Md5HashedText {
  require(shingleSize >= 1, s"shingleSize must be >= 1, got $shingleSize")
  require(k >= 1, s"k must be >= 1, got $k")

  /** Modulus of the double-hash family ([[graft.dedup.Dedup.MinHashP]]). */
  private val P = 2147483647L

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = requireString(child, "minhash_sigs")

  /** Zero-allocation shingle scan. Profiling (HISTORY.md, "Retired probes")
    * put 65% of eval time in the old `substringSQL` + `HashSet[UTF8String]`
    * pair — one UTF8String copy plus a boxed set entry per position — against
    * only ~11% in md5 itself. Shingles here are byte ranges over the document's
    * UTF-8 bytes (a char-position → byte-offset index is built in one pass),
    * deduplicated EXACTLY in an open-addressed table of positions: the FNV
    * hash only places a slot, equality is a byte-range compare, and UTF-8 is
    * injective so byte equality IS `substringSQL` equality. md5 runs over
    * the same byte range with no intermediate string. Values are
    * bit-identical to the declarative pipeline (DedupSpec equivalence
    * tests, incl. unicode + clamp cases).
    */
  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String]
    val bytes = text.getBytes
    val nChars = text.numChars()
    // char-position → byte-offset index (UTF-8 start bytes)
    val starts = new Array[Int](nChars + 1)
    var ci = 0
    var bi = 0
    while (ci < nChars) {
      starts(ci) = bi
      bi += UTF8String.numBytesForFirstByte(bytes(bi))
      ci += 1
    }
    starts(nChars) = bytes.length
    // char_ngrams clamp: positions 0 .. max(len - (n-1), 1) - 1; a doc
    // shorter than one shingle yields the whole doc as its only shingle
    val last = math.max(nChars - (shingleSize - 1), 1)
    // open-addressed dedup table of shingle start positions (pos + 1; 0 =
    // empty), capacity = pow2 >= 2*last so probes stay short
    val cap = Integer.highestOneBit(math.max(2, last * 2 - 1)) * 2
    val mask = cap - 1
    val slots = new Array[Int](cap)
    val mins = Array.fill(k)(Long.MaxValue)
    var pos = 0
    while (pos < last) {
      val s = starts(pos)
      val e = starts(math.min(pos + shingleSize, nChars))
      var h = 0x811c9dc5 // FNV-1a over the shingle bytes (placement only)
      var i = s
      while (i < e) { h = (h ^ (bytes(i) & 0xff)) * 0x01000193; i += 1 }
      var slot = h & mask
      var isNew = true
      var probing = true
      while (probing) {
        val stored = slots(slot)
        if (stored == 0) { slots(slot) = pos + 1; probing = false }
        else {
          val sp = stored - 1
          val ss = starts(sp)
          val se = starts(math.min(sp + shingleSize, nChars))
          if (se - ss == e - s &&
              java.util.Arrays.equals(bytes, ss, se, bytes, s, e)) {
            isNew = false
            probing = false
          } else slot = (slot + 1) & mask
        }
      }
      if (isNew) {
        val d = digestRange(bytes, s, e - s)
        val h1 = hexHead(d) % P
        val h2 = hexTail(d) % P
        var j = 0
        var cur = h1
        while (j < k) { // (h1 + j*h2) mod P, incrementally
          if (cur < mins(j)) mins(j) = cur
          cur += h2
          if (cur >= P) cur -= P
          j += 1
        }
      }
      pos += 1
    }
    new GenericArrayData(mins)
  }

  // Not a Java translation of the loop: the generated code calls this very
  // expression's nullSafeEval through a reference object. The point is to
  // shed the CodegenFallback marker — any expression carrying it disqualifies
  // its entire plan node from whole-stage codegen (CollapseCodegenStages),
  // forcing row materialization around the stage. The per-row work is
  // identical; the stage fusion around it is what we buy.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashSigs", this, classOf[MinHashSigs].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);")
  }

  override def prettyName: String = "minhash_sigs"
  override protected def withNewChildInternal(c: Expression): MinHashSigs = copy(child = c)
}

/** Portable 60-bit hashes of every `n`-token window of a document in ONE
  * native pass — the hot inner step of benchmark decontamination (pq17) and
  * exact-substring span statistics (pq18).
  *
  * Replaces the declarative pipeline (split → sequence → slice →
  * array_join → md5-hex per window), which MATERIALIZED every window as a
  * string before hashing it — for a 60-token doc and n=5 that is ~56
  * overlapping strings, each a fresh copy of ~5 tokens. The key identity:
  * `split(text, ' ')` re-joined with single spaces reproduces the original
  * byte sequence, so window i IS the byte range
  * [tokenStart(i), tokenStart(i+n) - 1) of the document's UTF-8 bytes
  * (0x20 never occurs inside a multi-byte UTF-8 char, so byte-level token
  * scanning is exact). md5 runs directly over that range; values equal
  * `CAST('0x' || substr(md5(window), 1, 15) AS BIGINT)` — the dh() family
  * the oracle recomputes. Shorter-than-n docs hash their whole text as the
  * single window, mirroring `slice`'s clamp; null text → null.
  */
case class WordNgramHashes(child: Expression, n: Int)
    extends UnaryExpression with Md5HashedText {
  require(n >= 1, s"n must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = requireString(child, "word_ngram_hashes")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var nToks = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == 0x20) nToks += 1; i += 1 }
    val starts = new Array[Int](nToks + 1)
    var t = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == 0x20) { starts(t) = i + 1; t += 1 }
      i += 1
    }
    // sentinel: a virtual separator one past the end, so the "- 1" below
    // strips either a real trailing space or nothing at the text boundary
    starts(nToks) = bytes.length + 1
    val last = math.max(nToks - n, 0)
    val out = new Array[Long](last + 1)
    var p = 0
    while (p <= last) {
      val s = starts(p)
      val e = math.min(starts(math.min(p + n, nToks)) - 1, bytes.length)
      out(p) = hexHead(digestRange(bytes, s, e - s))
      p += 1
    }
    new GenericArrayData(out)
  }

  // same eval-bridge as MinHashSigs: shed CodegenFallback, keep the stage fused
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordNgramHashes", this, classOf[WordNgramHashes].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);")
  }

  override def prettyName: String = "word_ngram_hashes"
  override protected def withNewChildInternal(c: Expression): WordNgramHashes = copy(child = c)
}

/** The `bits`-bit simhash of a document in ONE native pass — split on single
  * spaces (trailing empties kept, duplicate tokens counted, exactly like
  * `split(text, ' ')` + explode), one 60-bit portable hash per DISTINCT token
  * (duplicates reuse the memoized hash but still vote), majority vote per bit.
  *
  * Replaces the declarative pipeline (explode tokens × explode bits →
  * two-level groupBy), which materialized tokens × bits rows and shuffled
  * twice. Values are bit-identical (asserted in DedupSpec): the token hash
  * reproduces `portable_hash` (md5 hex chars 1-15 as a long, no modulus), a
  * tie vote sets the bit (`vote >= 0`), and bit b contributes `1L << b`.
  */
case class SimHash(child: Expression, bits: Int)
    extends UnaryExpression with Md5HashedText {
  require(bits >= 1 && bits <= 63, s"bits must be in [1, 63], got $bits")

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = requireString(child, "sim_hash")

  @transient private lazy val space = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String]
    // same tokenization as Spark's split(text, " ") with its default -1
    // limit: single-space separators, consecutive/trailing empties kept
    val toks = text.split(space, -1)
    // one entry per DISTINCT token: [portable hash, occurrence count].
    // Votes are count-weighted per distinct token below — the vote sum
    // commutes, so the result is bit-identical to voting per occurrence,
    // and the duplicate-heavy docs this expression sees (stopwords) skip
    // the repeated per-bit loops entirely.
    val cache = new java.util.HashMap[UTF8String, Array[Long]]()
    var t = 0
    while (t < toks.length) {
      val tok = toks(t)
      val e = cache.get(tok)
      if (e == null) cache.put(tok, Array(hexHead(digest(tok)), 1L))
      else e(1) += 1L
      t += 1
    }
    val votes = new Array[Long](bits)
    val it = cache.values().iterator()
    while (it.hasNext) {
      val e = it.next()
      val hv = e(0)
      val cnt = e(1)
      var b = 0
      while (b < bits) {
        if (((hv >>> b) & 1L) == 1L) votes(b) += cnt else votes(b) -= cnt
        b += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < bits) {
      if (votes(b) >= 0L) sig |= 1L << b
      b += 1
    }
    sig
  }

  // same bridge as MinHashSigs: shed CodegenFallback to keep the stage in
  // whole-stage codegen; the per-row vote loop itself is unchanged
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simHash", this, classOf[SimHash].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = ((java.lang.Long) $ref.nullSafeEval($c)).longValue();")
  }

  override def prettyName: String = "sim_hash"
  override protected def withNewChildInternal(c: Expression): SimHash = copy(child = c)
}

/** Distinct sliding-window minima over an `array<bigint>` in ONE native
  * O(n) pass — the winnowing selection step (Schleimer/Wilkerson/Aiken
  * 2003) over [[WordNgramHashes]] output.
  *
  * Replaces the declarative form (`transform(sequence(...), i =>
  * array_min(slice(hs, i+1, w)))` + `array_distinct`), which allocated a
  * fresh w-element array per window position and scanned it linearly —
  * O(n·w) time and O(n) allocations per document, the two slowest queries
  * in the round-5 bench (pq42/pq47). Here a monotonic deque of indices
  * (classic ascending-minima) yields each window's minimum in amortized
  * O(1) with one fixed w+1-int scratch buffer per row; consecutive equal
  * minima — the dominant duplicate, since the window min changes only
  * every ~(w+1)/2 positions — are dropped inline before the seen-set, so
  * the set sees ~2n/(w+1) candidates, not n. Output is bit-identical to
  * the declarative form including order (first occurrence wins, position
  * order), asserted in TextFunctionsSpec.
  *
  * Window semantics match `slice`'s clamp: positions 0..max(len−w, 0), so
  * a shorter-than-w array yields its single global minimum. Empty arrays
  * (which [[WordNgramHashes]] never emits) yield an empty result rather
  * than the declarative form's `[null]`. Null elements are not supported
  * (the hash family never produces them).
  */
case class SlidingMinDistinct(child: Expression, w: Int)
    extends UnaryExpression {
  require(w >= 1, s"window width w must be >= 1, got $w")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"sliding_min_distinct needs array<bigint>, got ${t.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
    val n = a.length
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    val out = new java.util.ArrayList[Long](math.max(4, 2 * n / (w + 1)))
    val seen = new java.util.HashSet[java.lang.Long]()
    var last = 0L
    var any = false
    def emit(v: Long): Unit =
      if (!any || v != last) { // inline consecutive-dup drop
        if (seen.add(v)) out.add(v)
        last = v; any = true
      }
    if (n <= w) {
      var m = a(0); var i = 1
      while (i < n) { if (a(i) < m) m = a(i); i += 1 }
      emit(m)
    } else {
      // ring buffer of indices; h/t are monotonic counters, h==t empty.
      // Head evicted BEFORE push, so occupancy stays <= w < cap.
      val cap = w + 1
      val dq = new Array[Int](cap)
      var h = 0; var t = 0
      var j = 0
      while (j < n) {
        if (t > h && dq(h % cap) <= j - w) h += 1
        while (t > h && a(dq((t - 1) % cap)) >= a(j)) t -= 1
        dq(t % cap) = j; t += 1
        if (j >= w - 1) emit(a(dq(h % cap)))
        j += 1
      }
    }
    val res = new Array[Long](out.size)
    var i = 0
    while (i < res.length) { res(i) = out.get(i); i += 1 }
    new GenericArrayData(res)
  }

  // same eval-bridge as MinHashSigs: shed CodegenFallback, keep the stage fused
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("slidingMinDistinct", this, classOf[SlidingMinDistinct].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.nullSafeEval($c);")
  }

  override def prettyName: String = "sliding_min_distinct"
  override protected def withNewChildInternal(c: Expression): SlidingMinDistinct = copy(child = c)
}

/** Remove the tokens at the given (sorted, distinct) positions and
  * reassemble the document in ONE row-local pass →
  * `struct(n_tokens bigint, n_removed bigint, text_clean string)`.
  *
  * This is the span-removal REASSEMBLY
  * ([[graft.dedup.Dedup.removeDuplicatedSpans]]) without moving text: the
  * declarative form it replaces exploded every token of every document into
  * `(doc, pos, tok)` rows, left-joined the removed positions and re-built
  * each document with a sorted `collect_list` — two corpus-sized shuffles
  * of per-token structs for what is a merge-scan of two sorted sequences.
  * Here only the affected positions are aggregated per document (the
  * shuffle the operator genuinely needs) and the text never leaves its row.
  * `n_removed` counts positions in [0, n_tokens) — out-of-range entries are
  * ignored, matching the join semantics it replaces.
  */
case class RemoveTokenPositions(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  import org.apache.spark.sql.types.StructField

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_removed", LongType, nullable = false),
    StructField("text_clean", StringType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), ArrayType(org.apache.spark.sql.types.IntegerType | LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"remove_token_positions needs (array<string>, array<int|bigint>), got $other")
  }

  @transient private lazy val rmIsInt =
    right.dataType.asInstanceOf[ArrayType].elementType == org.apache.spark.sql.types.IntegerType

  override def nullSafeEval(toksAny: Any, rmAny: Any): Any = {
    val toks = toksAny.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val rm = rmAny.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = toks.numElements()
    val nRm = rm.numElements()
    val kept = new Array[UTF8String](n)
    var nKept = 0
    var removed = 0L
    var ri = 0
    var i = 0
    while (i < n) {
      // advance the (sorted) removal pointer to >= i
      var rp = Long.MinValue
      var hit = false
      while (ri < nRm && {
        rp = if (rmIsInt) rm.getInt(ri).toLong else rm.getLong(ri)
        rp < i
      }) ri += 1
      hit = ri < nRm && rp == i
      if (hit) { removed += 1; ri += 1 }
      else {
        val t = toks.getUTF8String(i)
        kept(nKept) = if (t == null) UTF8String.EMPTY_UTF8 else t
        nKept += 1
      }
      i += 1
    }
    val clean = UTF8String.concatWs(
      UTF8String.fromString(" "), java.util.Arrays.copyOf(kept, nKept): _*)
    org.apache.spark.sql.catalyst.InternalRow(n.toLong, removed, clean)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rmPos", this, classOf[RemoveTokenPositions].getName)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $ref.nullSafeEval($a, $b);")
  }

  override def prettyName: String = "remove_token_positions"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): RemoveTokenPositions =
    copy(left = l, right = r)
}

/** Keep-first segment dedup of one document in ONE native pass →
  * `struct(n_segments int, n_kept int, text_clean string)`: the document's
  * tokens (split on single spaces, empty tokens preserved — exactly Spark's
  * `split(text, " ")` with its keep-trailing-empties limit=-1 rule) are
  * grouped into fixed `n`-token segments (last may be shorter) and each
  * segment is kept iff its exact text has not appeared before.
  *
  * Replaces the declarative form (`transform`+`slice` to build segments,
  * then `filter` with `array_position` — O(segments²) interpreted string
  * comparisons per document, ~1 s of the scrub pipelines' time at sf0.1)
  * with a single hash-set pass. NULL text yields the honest empty document
  * `(0, 0, "")`, the declarative guards' contract (so the expression itself
  * is never null). The declarative form is retained in TextFunctionsSpec as
  * this expression's equivalence oracle.
  */
case class RepeatedSegmentsExpr(child: Expression, n: Int)
    extends UnaryExpression {

  require(n >= 1, s"segTokens=$n must be positive")

  import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

  override def dataType: DataType = StructType(Seq(
    StructField("n_segments", IntegerType, nullable = false),
    StructField("n_kept", IntegerType, nullable = false),
    StructField("text_clean", StringType, nullable = false)))

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"repeated_segments needs string, got ${other.catalogString}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    evalNullable(child.eval(input).asInstanceOf[AnyRef])

  /** Shared eval entry (interpreted + codegen bridge): null text comes out
    * as the honest empty document, not null.
    */
  def evalNullable(v: AnyRef): Any =
    if (v == null) org.apache.spark.sql.catalyst.InternalRow(0, 0, UTF8String.EMPTY_UTF8)
    else compute(v.asInstanceOf[UTF8String])

  private def compute(u: UTF8String): Any = {
    val bytes = u.getBytes
    // token boundaries: split on single 0x20 bytes, keeping ALL empty
    // tokens ("" -> one empty token; "a " -> ["a", ""]) — byte-level is
    // safe because UTF-8 never embeds 0x20 inside a multi-byte sequence
    val starts = new scala.collection.mutable.ArrayBuffer[Int](16)
    starts += 0
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') starts += i + 1
      i += 1
    }
    val nTok = starts.length
    def tokEnd(t: Int): Int = if (t + 1 < nTok) starts(t + 1) - 1 else bytes.length
    val nSeg = (nTok + n - 1) / n
    val seen = new java.util.HashSet[UTF8String](nSeg * 2)
    val sb = new java.io.ByteArrayOutputStream(bytes.length)
    var kept = 0
    var s = 0
    while (s < nSeg) {
      // segment s spans bytes[starts(s·n), end of its last token) — tokens
      // are contiguous in the source, so the space-joined segment IS a
      // byte slice of the original text
      val from = starts(s * n)
      val until = tokEnd(math.min(s * n + n, nTok) - 1)
      val seg = UTF8String.fromBytes(bytes, from, until - from)
      if (seen.add(seg)) {
        if (kept > 0) sb.write(' ')
        sb.write(bytes, from, until - from)
        kept += 1
      }
      s += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(nSeg, kept, UTF8String.fromBytes(sb.toByteArray))
  }

  // eval-bridge (MinHashSigs pattern), with explicit null-child plumbing
  // since this expression maps null input to a non-null result
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("repSegs", this, classOf[RepeatedSegmentsExpr].getName)
    val childGen = child.genCode(ctx)
    val jt = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.javaType(dataType)
    ev.copy(
      code = code"""
        ${childGen.code}
        $jt ${ev.value} = ($jt) $ref.evalNullable(
          ${childGen.isNull} ? null : ((Object) ${childGen.value}));
      """,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override def prettyName: String = "repeated_segments"
  override protected def withNewChildInternal(c: Expression): RepeatedSegmentsExpr =
    copy(child = c)
}

/** `struct(n_tokens int, n_stop int)` of a document in ONE byte-level pass:
  * token count under Spark's `split(text, " ")` semantics (single-space
  * separators, empty tokens preserved → separators + 1) and how many tokens
  * exactly match the given word set. Replaces the quality-score hot path's
  * `size(split(...))` (allocates the whole token array to count it) +
  * `size(filter(toks, isin(words)))` (an interpreted lambda doing
  * |words| string compares per token) — the scored stage of every mix
  * flagship evaluates this per document. Null text propagates null,
  * exactly like `size(split(null, " "))` — the score stays null for null
  * docs, unchanged.
  */
case class TokenStopCountsExpr(child: Expression, words: Seq[String])
    extends UnaryExpression {

  import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_stop", IntegerType, nullable = false)))

  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_stop_counts needs string, got ${other.catalogString}")
  }

  @transient private lazy val wordSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.size * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    var nTok = 1
    var nStop = 0
    var tokStart = 0
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        if (wordSet.contains(UTF8String.fromBytes(bytes, tokStart, i - tokStart))) nStop += 1
        if (i < bytes.length) nTok += 1
        tokStart = i + 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(nTok, nStop)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokStop", this, classOf[TokenStopCountsExpr].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $ref.nullSafeEval($c);")
  }

  override def prettyName: String = "token_stop_counts"
  override protected def withNewChildInternal(c: Expression): TokenStopCountsExpr =
    copy(child = c)
}

/** Single-pass [[graft.dedup.Dedup.canonicalize]]: lowercase, non-[a-z0-9]
  * runs to one space, trimmed — and the empty-canonical fallback to the
  * lowercased raw text, all in ONE scan. The declarative form
  * (`when(c === "", lower(text)).otherwise(c)` over a two-regexp `c`)
  * evaluates the regex chain TWICE because Catalyst's subexpression
  * elimination does not span a CaseWhen's condition and branches — measured
  * +40% on pq28/dq20. Value contract (spec-pinned, oracle-replayed): equal
  * to `trim(regexp_replace(regexp_replace(lower(s), "[^a-z0-9 ]", " "),
  * " +", " "))`, falling back to `lower(s)` when that is empty. Char-level
  * iteration is safe: every non-kept code UNIT (including each surrogate
  * half) becomes part of a space run that collapses to the same single
  * separator the code-POINT regex produces.
  */
case class CanonicalizeText(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"canonicalize_text needs a string, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any = {
    val lowered = input.asInstanceOf[UTF8String].toLowerCase // Lower()'s own path
    val s = lowered.toString
    val sb = new java.lang.StringBuilder(s.length)
    var pendingSpace = false
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if ((ch >= 'a' && ch <= 'z') || (ch >= '0' && ch <= '9')) {
        if (pendingSpace && sb.length > 0) sb.append(' ')
        pendingSpace = false
        sb.append(ch)
      } else pendingSpace = true // spaces and every other char: separator run
      i += 1
    }
    if (sb.length == 0) lowered else UTF8String.fromString(sb.toString)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("canonText", this, classOf[CanonicalizeText].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.unsafe.types.UTF8String) $ref.nullSafeEval($c);")
  }

  override def prettyName: String = "canonicalize_text"
  override protected def withNewChildInternal(c: Expression): CanonicalizeText =
    copy(child = c)
}
