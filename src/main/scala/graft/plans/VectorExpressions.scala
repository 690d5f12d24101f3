package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Dot product of two numeric arrays as one native expression.
  *
  * The declarative form — `aggregate(zip_with(a, b, _*_), 0d, _+_)` — pays a
  * Catalyst lambda interpretation per element per row; at millions of pairs ×
  * 64 dims that dominated the embedding-dedup benchmark. This expression does
  * the identical left-to-right double accumulation (bit-for-bit the same
  * result, which the DuckDB oracle mirrors with list_reduce) in a tight loop.
  */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private lazy val leftFloat = left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private lazy val rightFloat = right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vector_dot expects array<float|double>, got ${left.dataType} / ${right.dataType}")
  }

  // Result is null for mismatched lengths or any null element — the same
  // answer the declarative `aggregate(zip_with(a, b, _*_), 0d, _+_)` gives
  // (zip_with pads/propagates null, the sum absorbs it), so the documented
  // parity with the fold form holds on ALL inputs, not just clean ones.
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (leftFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val getA = if (leftFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getB = if (rightFloat) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
        int $n = $a.numElements();
        if ($n != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          double $acc = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
            $acc += $getA * $getB;
          }
          if (!${ev.isNull}) { ${ev.value} = $acc; }
        }
      """
    })

  override def prettyName: String = "vector_dot"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VectorDot =
    copy(left = l, right = r)
}

/** Sign-LSH bucket id for a vector in ONE native pass — `planes` dot
  * products against deterministic pseudo-random hyperplanes, sign bits
  * packed into a long.
  *
  * Replaces the declarative form (explode over planes + per-element Catalyst
  * lambda fold + groupBy(id) bit-sum), which paid planes×dim interpreted
  * lambda evals per row AND a full shuffle of the exploded rows. Bucket
  * values are bit-identical: hyperplane components reproduce
  * `(portable_hash(concat_ws(":", p, i)) % 1000000) / 2000000.0` exactly
  * (md5-hex prefix parse, same truncated-division remainder), and the dot
  * accumulates left-to-right in double like the zip_with fold. A vector
  * containing a null element buckets to 0, matching the lambda pipeline
  * (null dot → CASE WHEN null → 0 bit on every plane).
  */
case class SignLsh(child: Expression, planes: Int, planeOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(planes >= 1 && planes <= 63, s"planes must be in [1, 63], got $planes")
  require(planeOffset >= 0, s"planeOffset must be >= 0, got $planeOffset")

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = child.nullable

  private lazy val isFloat = child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sign_lsh expects array<float|double>, got $other")
    }

  // Per-(plane, dim) hyperplane components, grown lazily to the widest
  // vector seen; one md5 each, computed once per task instead of per row.
  // ThreadLocal like the Md5HashedText family: codegen tasks each
  // deserialize their own instance, but an INTERPRETED projection can share
  // one instance across threads, and a plain var would publish the grown
  // arrays without a happens-before edge — a racing reader could observe
  // zero-valued components and bucket silently wrong. The values are pure,
  // so per-thread recomputation is the cheap, correct posture.
  @transient private lazy val compCache =
    new ThreadLocal[Array[Array[Double]]]()

  private def component(p: Int, i: Int): Double = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p:$i".getBytes("UTF-8"))
    val hex = digest.map(b => f"$b%02x").mkString
    val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
    (h % 1000000L).toDouble / 2000000.0
  }

  private def ensure(dim: Int): Array[Array[Double]] = {
    var comp = compCache.get()
    if (comp == null) {
      comp = Array.fill(planes)(Array.emptyDoubleArray)
      compCache.set(comp)
    }
    if (comp(0).length < dim) {
      var p = 0
      while (p < planes) {
        val old = comp(p)
        val grown = java.util.Arrays.copyOf(old, dim)
        var i = old.length
        // plane ids are global across tables: table t of b planes hashes
        // planes [t*b, (t+1)*b) — independent hyperplanes per table
        while (i < dim) { grown(i) = component(p + planeOffset, i); i += 1 }
        comp(p) = grown
        p += 1
      }
    }
    comp
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val comp = ensure(n)
    var i = 0
    while (i < n) { // null element => every plane's dot is null => bucket 0
      if (arr.isNullAt(i)) return 0L
      i += 1
    }
    var bucket = 0L
    var p = 0
    while (p < planes) {
      val plane = comp(p)
      var dot = 0.0
      i = 0
      while (i < n) {
        val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        dot += x * plane(i)
        i += 1
      }
      if (dot >= 0) bucket |= 1L << p
      p += 1
    }
    bucket
  }

  // Bridge codegen (same as MinHashSigs/SimHash): the generated code calls
  // this expression's own nullSafeEval via a reference object. Shedding the
  // CodegenFallback marker keeps the surrounding stage inside whole-stage
  // codegen (CodegenFallback anywhere in a plan node's expressions disables
  // fusion for the whole node); the per-row plane loop is unchanged.
  // CONTRACT: nullSafeEval never returns null for non-null input (a
  // null-element vector maps to bucket 0, not to null) — the unchecked
  // `.longValue()` below depends on it; see the Md5HashedText doc for the
  // family-wide statement.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("signLsh", this, classOf[SignLsh].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = ((java.lang.Long) $ref.nullSafeEval($c)).longValue();")
  }

  override def prettyName: String = "sign_lsh"
  override protected def withNewChildInternal(c: Expression): SignLsh = copy(child = c)
}

/** Integer dot product of two `array<long>` vectors (the int8-quantized
  * tier: elements are in [-127, 127], so a 64-dim dot is ≤ 2^20 — exact in
  * long with no overflow concern at any realistic dimension).
  *
  * Same motivation as [[VectorDot]]: the declarative
  * `aggregate(zip_with(a, b, _*_), 0L, _+_)` interprets two Catalyst
  * lambdas per element per pair AND blocks whole-stage codegen around the
  * scoring projection; this is the identical sum (integer addition is
  * order-free, so exactness is trivial) in a tight generated loop. Null
  * semantics match the fold form: mismatched lengths or any null element
  * → null.
  */
case class VectorDotLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vector_dot_long expects array<long>, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
        int $n = $a.numElements();
        if ($n != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          long $acc = 0L;
          for (int $i = 0; $i < $n; $i++) {
            if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
            $acc += $a.getLong($i) * $b.getLong($i);
          }
          if (!${ev.isNull}) { ${ev.value} = $acc; }
        }
      """
    })

  override def prettyName: String = "vector_dot_long"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VectorDotLong =
    copy(left = l, right = r)
}
