package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** IDN/punycode host folding (RFC 3490/3492 via `java.net.IDN`, part of the
  * JDK): a Unicode hostname and its `xn--` ACE form are the SAME host on
  * the wire, so a crawl dedup/cap key must collapse them —
  * `url_canonicalize` folds the host of any URL carrying non-ASCII to its
  * ASCII (punycode) form, lowercased. Punycode's adaptive base-36 delta
  * coding is a stateful per-label loop no regex subset expresses, hence a
  * native expression (the pq68 eval-bridge posture: `doGenCode` delegates
  * to `nullSafeEval` so the surrounding stage stays inside whole-stage
  * codegen instead of dropping to CodegenFallback).
  *
  * Drop-not-fail: a host `IDN.toASCII` rejects (overlong label, bidi
  * violations) passes through UNCHANGED — a crawl front must never abort a
  * batch on one hostile URL; the malformed form simply keys as itself,
  * exactly how the reference treats undecodable records
  * (decaton: processors/processor/src/main/java/.../DecatonProcessor.java
  * discard semantics; see core/LegacyEnvelope.scala).
  */
case class IdnAscii(child: Expression)
    extends UnaryExpression with Serializable {

  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"idn_ascii expects string, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    try {
      UTF8String.fromString(
        java.net.IDN.toASCII(s, java.net.IDN.ALLOW_UNASSIGNED)
          .toLowerCase(java.util.Locale.ROOT))
    } catch {
      case _: IllegalArgumentException | _: IndexOutOfBoundsException => input
    }
  }

  // eval-bridge: shed CodegenFallback so the stage stays fused (the
  // BpeSubwords/MinHashSigs pattern)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("idnAscii", this, classOf[IdnAscii].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.unsafe.types.UTF8String) $ref.nullSafeEval($c);")
  }

  override def prettyName: String = "idn_ascii"
  override protected def withNewChildInternal(c: Expression): IdnAscii = copy(child = c)
}

/** The full `url_canonicalize` chain (steps 1-8, RFC 3986 §6.2.2 — see
  * [[graft.functions.UrlFunctions.url_canonicalize]] for the contract) as
  * ONE native expression. Semantics are IDENTICAL to the column chain —
  * the regex steps run the same pattern constants through the same Java
  * regex engine, percent normalization replays the same
  * [[graft.functions.UrlFunctions.UnreservedByHex]] table, and the
  * authority case fold goes through `UTF8String.toLowerCase` exactly like
  * the column form's `lower()` — but the row pays ONE expression-tree node
  * instead of ~25: the column chain measured ~42 µs/row
  * on percent-bearing URLs (15 µs of it the interpreted ArrayTransform
  * inside percent_normalize) against a ~3 µs single-pass budget, across
  * every crawl-family query (pq83-pq108 all key on this chain).
  * UrlFuzzSpec pins native == column chain == plain-JVM reference over the
  * seeded generator; the DuckDB oracle pins the cross-engine semantics.
  *
  * Eval-bridge codegen (the IdnAscii posture): the surrounding stage stays
  * inside whole-stage codegen, the body is this object's `canonicalize`.
  */
case class UrlCanonicalize(child: Expression)
    extends UnaryExpression with Serializable {
  import UrlCanonicalize._

  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(s"url_canonicalize expects string, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(canonicalize(input.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("urlCanon", this, classOf[UrlCanonicalize].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.unsafe.types.UTF8String) $ref.nullSafeEval($c);")
  }

  override def prettyName: String = "url_canonicalize"
  override protected def withNewChildInternal(c: Expression): UrlCanonicalize =
    copy(child = c)
}

object UrlCanonicalize {
  import java.util.regex.Pattern

  import graft.functions.UrlFunctions

  // the same pattern constants the column chain compiled, precompiled once
  private val PFrag = Pattern.compile("#.*$")
  private val PAuth = Pattern.compile(UrlFunctions.AuthorityPrefixRe)
  private val PWww = Pattern.compile("^(https?://)www\\.")
  private val P80 = Pattern.compile("^(http://[^/:?#]+):80([/?#]|$)")
  private val P443 = Pattern.compile("^(https://[^/:?#]+):443([/?#]|$)")
  private val PTrack = Pattern.compile(UrlFunctions.TrackingParamRe)
  private val PAmpRun = Pattern.compile("([?&])&+")
  private val PTailSep = Pattern.compile("[?&]+$")
  private val PSlashQ = Pattern.compile("/+\\?")
  private val PSlashEnd = Pattern.compile("/+$")
  private val PHost = Pattern.compile(UrlFunctions.HostRe)

  /** Byte scan for "ASCII and no 0x25": in UTF-8 any non-ASCII code point
    * sets the high bit of its bytes, so the byte test equals the column
    * form's `rlike("^[\\x00-\\x24\\x26-\\x7F]*$")` on code points.
    */
  private def asciiNoPct(s: UTF8String): Boolean = {
    val n = s.numBytes
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b < 0 || b == 0x25) return false
      i += 1
    }
    true
  }

  private def allAscii(s: String): Boolean = {
    var i = 0
    while (i < s.length) { if (s.charAt(i) >= 128) return false; i += 1 }
    true
  }

  /** Imperative twin of [[UrlFunctions.percent_normalize]] (the UrlFuzzSpec
    * reference form, proven equal to the split/transform column over the
    * fuzz space): decode unreserved `%XX`, uppercase reserved `%XX`, pass
    * invalid runs through untouched.
    */
  private def pctNormalize(u: String): String =
    if (u.indexOf('%') < 0) u
    else {
      val parts = u.split("%", -1)
      val sb = new java.lang.StringBuilder(u.length)
      sb.append(parts(0))
      var i = 1
      while (i < parts.length) {
        val s = parts(i)
        val h = s.take(2).toUpperCase(java.util.Locale.ROOT)
        UrlFunctions.UnreservedByHex.get(h) match {
          case Some(c) => sb.append(c).append(s.substring(math.min(2, s.length)))
          case None if h.length == 2 && h.forall(ch =>
            (ch >= '0' && ch <= '9') || (ch >= 'A' && ch <= 'F')) =>
            sb.append('%').append(h).append(s.substring(2))
          case _ => sb.append('%').append(s)
        }
        i += 1
      }
      sb.toString
    }

  /** Imperative twin of [[UrlFunctions.idn_host_fold]]: punycode+lowercase
    * the host iff it carries non-ASCII (the IdnAscii drop-not-fail rule).
    */
  private def idnFold(u: String): String = {
    if (allAscii(u)) return u
    val m = PHost.matcher(u)
    if (!m.find()) return u
    val host = m.group(1)
    if (allAscii(host)) return u
    val folded =
      try java.net.IDN.toASCII(host, java.net.IDN.ALLOW_UNASSIGNED)
        .toLowerCase(java.util.Locale.ROOT)
      catch { case _: IllegalArgumentException | _: IndexOutOfBoundsException => host }
    u.substring(0, m.start(1)) + folded + u.substring(m.end(1))
  }

  def canonicalize(raw: UTF8String): String = {
    val trimmed = raw.trim() // the column form's trim(): 0x20 only
    val fast = asciiNoPct(trimmed)
    var s = PFrag.matcher(trimmed.toString).replaceAll("")
    if (!fast) s = pctNormalize(s)
    // steps 3-7, same regexes in the same order as the column chain
    val m = PAuth.matcher(s)
    if (m.find()) {
      // the column form lowercases via UTF8String (locale-independent on
      // ASCII, byte-identical to lower() on anything else)
      val pre = UTF8String.fromString(s.substring(0, m.end())).toLowerCase.toString
      s = pre + s.substring(m.end())
    }
    s = PWww.matcher(s).replaceAll("$1")
    s = P80.matcher(s).replaceAll("$1$2")
    s = P443.matcher(s).replaceAll("$1$2")
    s = PTrack.matcher(s).replaceAll("$1")
    s = PAmpRun.matcher(s).replaceAll("$1")
    s = PTailSep.matcher(s).replaceAll("")
    s = PSlashQ.matcher(s).replaceAll("?")
    s = PSlashEnd.matcher(s).replaceAll("")
    if (!fast) s = idnFold(s)
    s
  }
}
