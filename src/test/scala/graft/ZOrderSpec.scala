package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.operators.ZOrder

/** Z-order layout (pq87 family): bit-exact interleave vs a plain-Scala
  * reference, rank normalization pins, and the property the layout exists
  * for — under a box filter on the SECOND dimension, z-ordered files are
  * min/max-prunable where single-column-sorted files are not.
  */
class ZOrderSpec extends SparkTestBase {
  import spark.implicits._

  private val seed =
    sys.props.get("graft.fuzz.seed").map(_.toLong).getOrElse(20260816L)

  private def refInterleave(vals: Seq[Long], bits: Int): Long = {
    var z = 0L
    for (j <- 0 until bits; k <- vals.indices)
      z |= ((vals(k) >> j) & 1L) << (j * vals.size + k)
    z
  }

  test(s"interleaveBits == reference over fuzz ranks, 2 and 3 dims [seed=$seed]") {
    val rnd = new Random(seed)
    for (n <- Seq(2, 3)) {
      val bits = if (n == 2) 16 else 10
      val rows = (0 until 500).map { i =>
        (i.toLong, Seq.fill(n)(rnd.nextLong(1L << bits)))
      }
      val df = rows.map { case (i, vs) => (i, vs(0), vs(1), if (n == 3) vs(2) else 0L) }
        .toDF("i", "a", "b", "c")
      val cols = Seq(col("a"), col("b")) ++ (if (n == 3) Seq(col("c")) else Nil)
      val got = df.select(col("i"),
        ZOrder.interleaveBits(cols, bits).as("z")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      rows.foreach { case (i, vs) =>
        assert(got(i) === refInterleave(vs, bits), s"n=$n i=$i vs=$vs")
      }
    }
  }

  /** Independent imperative Skilling reference (AxestoTranspose + Gray +
    * parity + interleave) — plain Scala longs.
    */
  private def refHilbert(coords0: Seq[Long], bits: Int): Long = {
    val n = coords0.size
    val x = coords0.toArray
    var q = 1L << (bits - 1)
    while (q > 1) {
      val p = q - 1
      for (i <- 0 until n) {
        if ((x(i) & q) != 0L) x(0) ^= p
        else { val t = (x(0) ^ x(i)) & p; x(0) ^= t; x(i) ^= t }
      }
      q >>= 1
    }
    for (i <- 1 until n) x(i) ^= x(i - 1)
    var t = 0L
    q = 1L << (bits - 1)
    while (q > 1) { if ((x(n - 1) & q) != 0L) t ^= q - 1; q >>= 1 }
    for (i <- 0 until n) x(i) ^= t
    var h = 0L
    for (j <- 0 until bits; i <- 0 until n)
      h |= ((x(i) >> j) & 1L) << (j * n + (n - 1 - i))
    h
  }

  test(s"hilbertBits == reference over fuzz ranks, 2/3/4 dims [seed=$seed]") {
    val rnd = new Random(seed ^ 0x417CL)
    for (n <- Seq(2, 3, 4)) {
      val bits = n match { case 2 => 16; case 3 => 10; case _ => 8 }
      val rows = (0 until 400).map { i =>
        (i.toLong, Seq.fill(n)(rnd.nextLong(1L << bits)))
      }
      val df = rows.map { case (i, vs) =>
        (i, vs(0), vs(1), if (n > 2) vs(2) else 0L, if (n > 3) vs(3) else 0L)
      }.toDF("i", "a", "b", "c", "d")
      val cols = Seq(col("a"), col("b"), col("c"), col("d")).take(n)
      val got = df.select(col("i"),
        graft.operators.ZOrder.hilbertBits(cols, bits).as("h")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      rows.foreach { case (i, vs) =>
        assert(got(i) === refHilbert(vs, bits), s"n=$n i=$i vs=$vs")
      }
    }
  }

  test(s"withHilbertValue (staged codegen form) == fold form == reference [seed=$seed]") {
    val rnd = new Random(seed ^ 0x57A6EDL)
    for (n <- Seq(2, 3)) {
      val bits = if (n == 2) 16 else 10
      val dom = (1L << bits) - 1
      val rows = (0 until 300).map { i =>
        (i.toLong, rnd.nextLong(1L << bits), rnd.nextLong(1L << bits),
          rnd.nextLong(1L << bits))
      }
      val df = rows.toDF("i", "a", "b", "c")
      val dims = (Seq((col("a"), 0L, dom), (col("b"), 0L, dom)) ++
        (if (n == 3) Seq((col("c"), 0L, dom)) else Nil))
      val staged = ZOrder.withHilbertValue(df, dims, bits, "h")
        .select("i", "h").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val fold = df.select(col("i"),
          ZOrder.hilbertValue(dims, bits).as("h")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      rows.foreach { case (i, a, b, c) =>
        val vs = Seq(a, b) ++ (if (n == 3) Seq(c) else Nil)
        assert(staged(i) === refHilbert(vs, bits), s"staged n=$n i=$i")
        assert(staged(i) === fold(i), s"staged != fold n=$n i=$i")
      }
    }
  }

  test("hilbert: bijective on the full grid and CONTIGUOUS — consecutive indices are unit steps") {
    // 2-D, bits=4: the 16x16 grid. The Hilbert property that Morton lacks:
    // walking h = 0..255 moves exactly one cell each step.
    val cells = for (a <- 0L until 16L; b <- 0L until 16L) yield (a, b)
    val hs = cells.map { case (a, b) => refHilbert(Seq(a, b), 4) -> (a, b) }
    assert(hs.map(_._1).sorted === (0L until 256L), "not a bijection")
    val walk = hs.sortBy(_._1).map(_._2)
    walk.sliding(2).foreach { case Seq((a1, b1), (a2, b2)) =>
      assert(math.abs(a1 - a2) + math.abs(b1 - b2) === 1L,
        s"jump between h-consecutive cells ($a1,$b1)->($a2,$b2)")
    }
    // Morton on the same grid does NOT have the property (sanity that the
    // probe is discriminating)
    val mWalk = cells.map { case (a, b) =>
      refInterleave(Seq(a, b), 4) -> (a, b)
    }.sortBy(_._1).map(_._2)
    val mJumps = mWalk.sliding(2).count { case Seq((a1, b1), (a2, b2)) =>
      math.abs(a1 - a2) + math.abs(b1 - b2) > 1L }
    assert(mJumps > 0, "Morton walk unexpectedly contiguous")
    // 3-D, bits=3: 512 cells, same properties
    val cells3 = for (a <- 0L until 8L; b <- 0L until 8L; c <- 0L until 8L)
      yield Seq(a, b, c)
    val hs3 = cells3.map(v => refHilbert(v, 3) -> v)
    assert(hs3.map(_._1).sorted === (0L until 512L), "3-D not a bijection")
    hs3.sortBy(_._1).map(_._2).sliding(2).foreach { case Seq(v1, v2) =>
      assert(v1.zip(v2).map { case (p, q) => math.abs(p - q) }.sum === 1L,
        s"3-D jump $v1 -> $v2")
    }
  }

  test("rankBits: exact on a power-of-two domain, saturates outside it") {
    val r = Seq(0L, 511L, 1023L, -5L, 2000L).toDF("v")
      .select(ZOrder.rankBits(col("v"), 0L, 1023L, 10).as("r"))
      .as[Long].collect()
    assert(r.toSeq === Seq(0L, 511L, 1023L, 0L, 1023L))
    // non-power-of-two domain stays monotone and in range
    val m = (1L to 100L).toDF("v")
      .select(ZOrder.rankBits(col("v"), 1L, 100L, 6).as("r"))
      .as[Long].collect()
    assert(m.toSeq === m.sorted.toSeq && m.head === 0L && m.last === 63L)
  }

  test("z-ordered files are min/max prunable on the second dimension; single-sorted are not") {
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    val Array(okMin, okMax, ckMin, ckMax) =
      o.agg(min("o_orderkey"), max("o_orderkey"),
        min("o_custkey"), max("o_custkey")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
    val zv = ZOrder.zValue(
      Seq((col("o_orderkey"), okMin, okMax), (col("o_custkey"), ckMin, ckMax)),
      bits = 10)

    val tmp = tempDir("graft-zorder")
    ZOrder.writeZOrdered(o, zv, s"$tmp/z", numFiles = 16)
    // the baseline layout: globally sorted by the FIRST column only
    o.repartitionByRange(16, col("o_orderkey"))
      .sortWithinPartitions(col("o_orderkey"))
      .write.mode("overwrite").parquet(s"$tmp/sorted")

    // a box filter on the SECOND dimension covering ~1/8 of its domain:
    // count the files whose [min,max] custkey range intersects the box —
    // exactly what parquet footer pruning can skip
    val lo = ckMin + (ckMax - ckMin) / 2
    val hi = lo + (ckMax - ckMin) / 8
    def overlapping(dir: String): Int = {
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getPath)
      assert(files.length === 16, s"expected 16 files in $dir")
      files.count { f =>
        val r = spark.read.parquet(f)
          .agg(min("o_custkey"), max("o_custkey")).head()
        r.getLong(0) <= hi && r.getLong(1) >= lo
      }
    }
    val zFiles = overlapping(s"$tmp/z")
    val sortedFiles = overlapping(s"$tmp/sorted")
    info(s"files overlapping the custkey box: z-ordered=$zFiles / 16, " +
      s"orderkey-sorted=$sortedFiles / 16")
    // orderkey-sorted files each span ~the whole custkey domain
    assert(sortedFiles >= 14, s"baseline unexpectedly prunable: $sortedFiles")
    // z-ordered files are custkey-boxed: most fall outside the filter
    assert(zFiles * 2 <= sortedFiles,
      s"z-order must at least halve the scannable files ($zFiles vs $sortedFiles)")
    // and both layouts return the same rows
    val expect = o.filter(col("o_custkey").between(lo, hi)).count()
    assert(spark.read.parquet(s"$tmp/z")
      .filter(col("o_custkey").between(lo, hi)).count() === expect)
  }
}
